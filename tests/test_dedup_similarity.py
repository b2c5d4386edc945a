"""Dedup + similarity operator semantics on controlled inputs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from railgun_spark.operators.dedup import (
    dedup_exact_keep_first,
    minhash_bands,
    shingle_sets,
    shingles,
    simhash_fingerprints,
)
from railgun_spark.operators.similarity import cosine, dot, to_double


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], ["text"])
    rows = df.select(shingles(F.col("text")).alias("sh")).collect()
    assert sorted(rows[0]["sh"]) == ["a b c", "b c d"]
    assert rows[1]["sh"] == []


def test_shingle_pipeline_single_evaluation(spark, tmp_path):
    """r18: the shingle data path must evaluate the tokenizer and the
    zip_with chain ONCE per row. Two regressions are pinned here:

    1. value parity — the two-stage tokenize->shingle form (filter on
       word count >= 3, shingles_of_words over the projected word
       array) returns exactly the rows/sets of the one-expression
       `shingles(text)` + `size(sh) > 0` form, including the edge docs
       (0/1/2/3 words, punctuation-only, repeated trigrams);
    2. plan shape — the physical plan of a shingle-explode pipeline
       contains ONE zip_with chain (2 zip_with nodes), not the 4-6 the
       pushed-down size filter + InferFiltersFromGenerate used to
       inline (each chain instance costs the full interpreted
       higher-order evaluation per corpus row).
    """
    from railgun_spark.operators.dedup import words

    docs = spark.createDataFrame(
        [
            (1, "en", "alpha beta gamma delta", "s"),
            (2, "en", "alpha beta", "s"),          # 2 words -> no shingles
            (3, "en", "", "s"),                    # empty
            (4, "en", "..., !!!", "s"),            # no word chars
            (5, "en", "x y z", "s"),               # exactly 3 words
            (6, "en", "a b a b a b a b", "s"),     # repeats -> distinct grams
        ],
        ["doc_id", "lang", "text", "source"],
    )
    sf_dir = str(tmp_path)
    docs.write.parquet(f"{sf_dir}/documents.parquet")

    scan = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r["doc_id"]: sorted(r["sh"])
        for r in shingle_sets(scan, "doc_id").collect()
    }
    ref = {
        r["doc_id"]: sorted(r["sh"])
        for r in docs.select(
            "doc_id", shingles(F.col("text")).alias("sh")
        ).filter(F.size("sh") > 0).collect()
    }
    assert got == ref
    assert set(got) == {1, 5, 6}

    # equivalence of the cheap filter itself: >= 3 words <=> >= 1 shingle
    both = docs.select(
        (F.size(words(F.col("text"))) >= 3).alias("w3"),
        (F.size(shingles(F.col("text"))) > 0).alias("nonempty"),
    ).collect()
    assert all(r["w3"] == r["nonempty"] for r in both)

    # plan shape: one chain instance in the exploded pipeline
    tok = shingle_sets(scan, "doc_id").select(
        "doc_id", F.explode("sh").alias("g")
    )
    plan = tok._jdf.queryExecution().executedPlan().toString()
    assert plan.count("zip_with") == 2, (
        "zip_with count depends on (1) get_spark's InferFiltersFromGenerate "
        "exclusion in spark.sql.optimizer.excludedRules and (2) the "
        "executedPlan().toString() format printing each chain once:\n" + plan
    )


def test_excluded_rules_merge_with_extra_conf(spark):
    """A caller's spark.sql.optimizer.excludedRules in extra_conf merges
    with the built-in InferFiltersFromGenerate exclusion (comma-joined,
    de-duplicated) instead of overwriting it and silently re-enabling
    the duplicated shingle-chain work pinned above."""
    from railgun_spark.session import _excluded_rules, get_spark

    key = "spark.sql.optimizer.excludedRules"
    infer = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    prune = "org.apache.spark.sql.catalyst.optimizer.PruneFilters"
    assert _excluded_rules() == infer
    assert _excluded_rules(f" {prune} ,{infer},{prune}") == f"{infer},{prune}"

    before = spark.conf.get(key)
    assert infer in before.split(",")
    try:
        # same app name: getOrCreate applies the builder conf to the live
        # session, exactly what a caller's extra_conf does
        s = get_spark("railgun_spark_tests", extra_conf={key: prune})
        assert s.conf.get(key).split(",") == [infer, prune]
    finally:
        spark.conf.set(key, before)


def test_minhash_identical_texts_share_signature(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"), (2, "the quick brown fox jumps over the lazy dog"), (3, "completely different words entirely here now")],
        ["id", "text"],
    )
    bands = minhash_bands(shingle_sets(df, "id"), "id").collect()
    by_id = {}
    for r in bands:
        by_id.setdefault(r["id"], []).append(r["band_key"])
    by_id = {k: sorted(v) for k, v in by_id.items()}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]


def test_simhash_near_dup_close(spark):
    rows = [
        (1, "en", "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "en", "the quick brown fox jumps over the lazy dog near the river bank tonight"),
        (3, "en", "completely unrelated content about database engines and vectorized execution"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    s = df.select("doc_id", "lang", shingles(F.col("text")).alias("sh"))
    fp = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(s).collect()}
    ham12 = bin(fp[1] ^ fp[2]).count("1")
    ham13 = bin(fp[1] ^ fp[3]).count("1")
    assert ham12 < ham13


def test_dedup_exact_keep_first(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], ["id", "text"]
    )
    out = dedup_exact_keep_first(df, ["text"]).collect()
    assert sorted(r["id"] for r in out) == [1, 3]


def test_cosine_identity(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0], [1.0, 2.0, 3.0])], ["a", "b"])
    r = df.select(
        dot(F.col("a"), F.col("b")).alias("d"), cosine(F.col("a"), F.col("b")).alias("c")
    ).collect()[0]
    assert abs(r["d"] - 14.0) < 1e-12
    assert abs(r["c"] - 1.0) < 1e-12


def test_ann_recall_vs_brute_force(spark, sf_dir):
    from railgun_spark.operators.similarity import ann_lsh_topk, knn_brute_force

    exact = [r["vec_id"] for r in knn_brute_force(spark, sf_dir).collect()]
    approx = [r["vec_id"] for r in ann_lsh_topk(spark, sf_dir).collect()]
    # ANN returns bucket-local results; require non-trivial overlap with exact top-10
    assert len(approx) > 0
    assert to_double is not None  # imported API stays


def test_lsh_candidates_superset_of_high_jaccard(spark, sf_dir):
    from railgun_spark.operators.dedup import dedup_minhash_lsh, dedup_ngram_jaccard

    lsh = {(r["doc_a"], r["doc_b"]) for r in dedup_minhash_lsh(spark, sf_dir).collect()}
    exact = {(r["doc_a"], r["doc_b"]) for r in dedup_ngram_jaccard(spark, sf_dir).collect()}
    # every >=0.8-jaccard pair must be found by LSH at >=0.5 verify threshold
    assert exact <= lsh


def test_connected_components_transitive_chain(spark):
    """A chain a-b-c-d plus an isolated pair must yield 2 components with
    min-label survivors, regardless of candidate-pair ordering."""
    from railgun_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (100, 200)], "a: long, b: long"
    )
    comp = {r["node"]: r["label"] for r in connected_components(edges).collect()}
    assert comp == {10: 10, 20: 10, 30: 10, 40: 10, 100: 100, 200: 100}


def test_stable_sample_is_deterministic_and_partition_invariant(spark):
    from railgun_spark.operators.corpus import stable_sample

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(r["doc_id"] for r in stable_sample(docs, "text", 10).collect())
    b = sorted(
        r["doc_id"] for r in stable_sample(docs.repartition(17), "text", 10).collect()
    )
    assert a == b and 0 < len(a) < docs.count()
    # nested: a 5% sample is a subset of the 10% sample (bucket prefix property)
    c = sorted(r["doc_id"] for r in stable_sample(docs, "text", 5).collect())
    assert set(c) <= set(a)


# ----------------------- incremental (index) dedup -------------------------
def test_dedup_against_index_batches(spark, tmp_path):
    from pyspark.sql import Row

    from railgun_spark.operators.dedup import append_to_index, dedup_against_index

    idx = str(tmp_path / "fingerprints")
    b1 = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta"), Row(doc_id=2, text="gamma delta"),
         Row(doc_id=3, text="alpha beta")]  # intra-batch dup of 1
    )
    s1 = dedup_against_index(b1, idx)
    assert sorted(r["doc_id"] for r in s1.collect()) == [1, 2]
    append_to_index(s1, idx)

    b2 = spark.createDataFrame(
        [Row(doc_id=10, text="alpha beta"),   # cross-batch dup
         Row(doc_id=11, text="epsilon zeta"),  # new
         Row(doc_id=12, text="epsilon zeta")]  # intra-batch dup of 11
    )
    s2 = dedup_against_index(b2, idx)
    assert sorted(r["doc_id"] for r in s2.collect()) == [11]
    append_to_index(s2, idx)

    # index now holds exactly the three unique fingerprints
    assert spark.read.parquet(idx).distinct().count() == 3
    # a third batch of all-seen content survives nothing
    b3 = spark.createDataFrame([Row(doc_id=20, text="alpha beta")])
    assert dedup_against_index(b3, idx).count() == 0


# ----------------- incremental (index) NEAR-dup: MinHash bands -----------------
def test_near_dup_against_index_batches(spark, tmp_path):
    from pyspark.sql import Row

    from railgun_spark.operators.dedup import (
        append_bands_to_index,
        near_dup_against_index,
    )

    idx = str(tmp_path / "bands")
    # "alpha beta gamma" repeated vs its rotation: different exact content,
    # IDENTICAL shingle set -> identical signature -> guaranteed band hit.
    base = "alpha beta gamma " * 4
    rotated = "beta gamma alpha " * 4
    b1 = spark.createDataFrame(
        [Row(doc_id=1, text=base),
         Row(doc_id=2, text="totally different words here entirely"),
         Row(doc_id=3, text=rotated)]  # intra-batch near-dup of 1
    )
    s1 = near_dup_against_index(b1, idx)
    assert sorted(r["doc_id"] for r in s1.collect()) == [1, 2]
    append_bands_to_index(s1, idx)

    b2 = spark.createDataFrame(
        [Row(doc_id=10, text=rotated),          # cross-batch near-dup of 1
         Row(doc_id=11, text="fresh unseen content never indexed before"),
         Row(doc_id=12, text="hi")]             # < 3 words: no bands, survives
    )
    s2 = near_dup_against_index(b2, idx)
    assert sorted(r["doc_id"] for r in s2.collect()) == [11, 12]


# --------------------------- mixture sampling ------------------------------
def test_mixture_sample_caps_and_zero_share(spark):
    from pyspark.sql import Row

    from railgun_spark.operators.corpus import mixture_rates, mixture_sample

    rows = [Row(doc_id=i, lang="en", text=f"english document number {i} padding words")
            for i in range(40)]
    rows += [Row(doc_id=100 + i, lang="de", text=f"deutsches dokument nummer {i}")
             for i in range(4)]
    rows += [Row(doc_id=200 + i, lang="zh", text=f"doc {i}") for i in range(4)]
    docs = spark.createDataFrame(rows)

    # de is massively over-subscribed (share 500 of a half-token budget vs
    # tiny avail) -> rate caps at 1000 = keep everything; zh share 0 -> none
    shares = {"en": 500, "de": 500}
    rates = {r["lang"]: r["rate"] for r in mixture_rates(docs, shares).collect()}
    assert rates["de"] == 1000 and rates["zh"] == 0 and 0 < rates["en"] < 1000

    kept = mixture_sample(docs, shares)
    langs = {r["lang"] for r in kept.collect()}
    assert "zh" not in langs and "de" in langs
    assert kept.filter("lang = 'de'").count() == 4
    # determinism + subset under repartition
    a = sorted(r["doc_id"] for r in kept.collect())
    b = sorted(r["doc_id"] for r in mixture_sample(docs.repartition(13), shares).collect())
    assert a == b


def test_shuffle_for_training_is_ordered_permutation(spark, sf_dir):
    from pyspark.sql import functions as F

    from railgun_spark.operators.corpus import shuffle_for_training

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = shuffle_for_training(docs, "epoch-0", n_shards=8)
    # permutation: same rows, nothing lost or duplicated
    assert out.count() == docs.count()
    assert out.select("doc_id").distinct().count() == docs.select("doc_id").distinct().count()
    # range property: shard i's max key < shard i+1's min key
    bounds = (
        out.select(F.spark_partition_id().alias("p"), "_shuffle_key")
        .groupBy("p")
        .agg(F.min("_shuffle_key").alias("lo"), F.max("_shuffle_key").alias("hi"))
        .orderBy("p")
        .collect()
    )
    for a, b in zip(bounds, bounds[1:]):
        assert a["hi"] <= b["lo"]
    # same salt -> same order; different salt -> different order
    first = [r["doc_id"] for r in out.limit(20).collect()]
    again = [r["doc_id"] for r in shuffle_for_training(docs, "epoch-0", 8).limit(20).collect()]
    other = [r["doc_id"] for r in shuffle_for_training(docs, "epoch-1", 8).limit(20).collect()]
    assert first == again and first != other


def test_compression_ratio_separates_boilerplate_from_prose(spark):
    from pyspark.sql import Row

    from railgun_spark.operators.text import with_compression_ratio

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="click here subscribe now " * 200),  # template spam
            Row(doc_id=2, text=" ".join(f"w{i * 7919 % 104729}x{i}" for i in range(800))),
            Row(doc_id=3, text=""),
        ]
    )
    out = {r["doc_id"]: r["compress_ratio"] for r in with_compression_ratio(docs).collect()}
    assert out[1] < 0.1          # boilerplate collapses
    assert out[2] > 0.3          # high-entropy prose doesn't
    assert out[3] is None        # empty text -> null, not a crash
    # partition-invariant (pure per-row function)
    again = {
        r["doc_id"]: r["compress_ratio"]
        for r in with_compression_ratio(docs.repartition(7)).collect()
    }
    assert again == out


# ------------------------ sketch error contracts ---------------------------
def test_sketch_tolerances_vs_exact(spark, sf_dir):
    from pyspark.sql import functions as F

    from railgun_spark.operators.sketches import (
        approx_distinct,
        approx_quantiles,
        frequent_items,
    )
    from railgun_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)

    exact = ev.select(F.count_distinct("user_id")).first()[0]
    approx = approx_distinct(ev, "user_id").first()["approx_distinct"]
    assert abs(approx - exact) / exact < 0.05  # rsd 2.3% -> 5% is generous

    got = approx_quantiles(ev, "value", [0.5, 0.9]).first()
    ex = ev.select(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
    ).first()
    spread = ev.agg(F.max("value") - F.min("value")).first()[0]
    assert abs(got["q_0_5"] - ex["p50"]) / spread < 0.02
    assert abs(got["q_0_9"] - ex["p90"]) / spread < 0.02

    # superset guarantee: every truly-frequent event_type is in the candidates
    n = ev.count()
    truly = {
        r["event_type"]
        for r in ev.groupBy("event_type").count().filter(F.col("count") > 0.2 * n).collect()
    }
    cands = set(frequent_items(ev, "event_type", 0.2))
    assert truly <= cands


def test_compact_index_preserves_membership(spark, tmp_path):
    from pyspark.sql import Row

    from railgun_spark.operators.dedup import (
        append_to_index,
        compact_index,
        dedup_against_index,
    )

    idx = str(tmp_path / "fp")
    b = spark.createDataFrame([Row(doc_id=1, text="aa bb"), Row(doc_id=2, text="cc dd")])
    s = dedup_against_index(b, idx)
    append_to_index(s, idx)
    append_to_index(s, idx)  # idempotent retry -> duplicate entries
    assert spark.read.parquet(idx).count() == 4

    n = compact_index(spark, idx, n_files=1)
    assert n == 2 and spark.read.parquet(idx).count() == 2
    # membership unchanged: the same content is still rejected
    again = spark.createDataFrame([Row(doc_id=9, text="aa bb")])
    assert dedup_against_index(again, idx).count() == 0


def _seed_index(spark, tmp_path):
    from pyspark.sql import Row

    from railgun_spark.operators.dedup import append_to_index, dedup_against_index

    idx = str(tmp_path / "fp")
    b = spark.createDataFrame([Row(doc_id=1, text="aa bb"), Row(doc_id=2, text="cc dd")])
    append_to_index(dedup_against_index(b, idx), idx)
    return idx


def test_compact_index_rejects_remote_scheme_and_bad_n_files(spark, tmp_path):
    import pytest as _pytest

    from railgun_spark.operators.dedup import compact_index

    idx = _seed_index(spark, tmp_path)
    with _pytest.raises(ValueError, match="scheme"):
        compact_index(spark, "s3a://bucket/fp")
    with _pytest.raises(ValueError, match="n_files"):
        compact_index(spark, idx, n_files=0)
    # a file: URI with the scheme mid-path-safe parse still works
    assert compact_index(spark, f"file:{idx}", n_files=1) == 2


def test_compact_index_crash_recovery(spark, tmp_path):
    """Simulate a crash between the two renames of the swap: the live path
    is absent but the backup exists. Every index read (and the next
    compaction) must restore it — duplicates keep being rejected, never
    silently re-admitted as a 'first batch'."""
    import os

    from pyspark.sql import Row

    from railgun_spark.operators.dedup import (
        _BACKUP_SUFFIX,
        compact_index,
        dedup_against_index,
    )

    idx = _seed_index(spark, tmp_path)
    os.rename(idx, idx + _BACKUP_SUFFIX)  # crash window: live gone, backup whole
    again = spark.createDataFrame([Row(doc_id=9, text="aa bb")])
    assert dedup_against_index(again, idx).count() == 0  # recovered, still dedups
    assert os.path.isdir(idx) and not os.path.exists(idx + _BACKUP_SUFFIX)

    os.rename(idx, idx + _BACKUP_SUFFIX)  # crash again; recover via compaction
    assert compact_index(spark, idx, n_files=1) == 2
    assert os.path.isdir(idx) and not os.path.exists(idx + _BACKUP_SUFFIX)


def test_compact_index_concurrent_lock(spark, tmp_path):
    """Two compactors cannot interleave the double-rename swap: the second
    fails loudly while the lock is held by a LIVE pid; a lock left by a
    dead pid or older than the staleness TTL is broken and compaction
    proceeds; the lock is gone after success (and after failure)."""
    import json
    import os
    import time

    import pytest as _pytest

    from railgun_spark.operators.dedup import (
        _LOCK_SUFFIX,
        _acquire_compact_lock,
        _release_compact_lock,
        compact_index,
    )

    idx = _seed_index(spark, tmp_path)
    lock = idx + _LOCK_SUFFIX

    # live holder (this very process) -> second compactor refuses, index intact
    with open(lock, "w") as f:
        json.dump({"pid": os.getpid(), "ts": time.time()}, f)
    with _pytest.raises(RuntimeError, match="already in progress"):
        compact_index(spark, idx, n_files=1)
    assert os.path.exists(lock) and spark.read.parquet(idx).count() == 2
    os.unlink(lock)

    # dead holder -> stale, broken, compaction succeeds, lock removed
    with open(lock, "w") as f:
        json.dump({"pid": 2**22 + 12345, "ts": time.time()}, f)
    assert compact_index(spark, idx, n_files=1) == 2
    assert not os.path.exists(lock)

    # live pid with an expired timestamp -> STILL held: liveness outranks
    # the TTL (a compaction legitimately running past the TTL is in
    # progress, and breaking it would recreate the double-rename race)
    with open(lock, "w") as f:
        json.dump({"pid": os.getpid(), "ts": time.time() - 7200}, f)
    with _pytest.raises(RuntimeError, match="already in progress"):
        compact_index(spark, idx, n_files=1)
    assert os.path.exists(lock)
    os.unlink(lock)

    # no usable pid + expired timestamp -> TTL fallback fires
    with open(lock, "w") as f:
        json.dump({"ts": time.time() - 7200}, f)
    assert compact_index(spark, idx, n_files=1) == 2
    assert not os.path.exists(lock)

    # no usable pid + fresh timestamp -> conservatively held
    with open(lock, "w") as f:
        json.dump({"ts": time.time()}, f)
    with _pytest.raises(RuntimeError, match="already in progress"):
        compact_index(spark, idx, n_files=1)
    os.unlink(lock)

    # corrupt lock payload, FRESH mtime -> held: a reader can no longer
    # break a just-created lock it happens to misread (the atomic-link
    # create makes the empty window impossible from OUR writer, but a
    # foreign/partial write must still age out by mtime, not on sight)
    with open(lock, "w") as f:
        f.write("not json")
    with _pytest.raises(RuntimeError, match="already in progress"):
        compact_index(spark, idx, n_files=1)
    assert os.path.exists(lock)

    # corrupt lock payload, mtime past the TTL -> stale, broken
    os.utime(lock, (time.time() - 7200, time.time() - 7200))
    assert compact_index(spark, idx, n_files=1) == 2
    assert not os.path.exists(lock)

    # pid-recycling: a lock whose pid is ALIVE (this process) but whose
    # recorded identity belongs to a different process incarnation is a
    # SIGKILLed holder whose pid the OS reused — provably dead, broken
    # immediately even with a fresh timestamp
    from railgun_spark.operators.dedup import _proc_identity

    if _proc_identity(os.getpid()) is not None:  # /proc available
        with open(lock, "w") as f:
            json.dump({"pid": os.getpid(), "ts": time.time(),
                       "identity": "other-boot:12345"}, f)
        assert compact_index(spark, idx, n_files=1) == 2
        assert not os.path.exists(lock)

    # pre-identity lock format (live pid, no identity field): held under
    # the 24h hard cap, broken past it — the backstop for pid reuse when
    # identity can't be verified
    with open(lock, "w") as f:
        json.dump({"pid": os.getpid(), "ts": time.time() - 25 * 3600}, f)
    assert compact_index(spark, idx, n_files=1) == 2
    assert not os.path.exists(lock)

    # direct acquire/release round-trip leaves no residue (lockfile AND
    # the link-source temp file)
    got, token = _acquire_compact_lock(idx)
    assert got == lock and os.path.exists(lock)
    # the freshly-acquired lock carries its full payload from birth
    with open(lock) as f:
        info = json.load(f)
    assert info["token"] == token and info["pid"] == os.getpid()
    assert info.get("identity") == _proc_identity(os.getpid())
    _release_compact_lock(lock, token)
    assert not os.path.exists(lock)
    leftovers = [p for p in os.listdir(os.path.dirname(lock))
                 if p.endswith(".tmp")]
    assert leftovers == []


def test_release_compact_lock_is_token_checked(tmp_path):
    """A compactor whose lock was stale-broken and re-acquired by a
    successor must NOT delete the successor's lock on its way out: release
    compares the acquisition token and leaves a mismatched lock alone."""
    import json
    import os

    from railgun_spark.operators.dedup import (
        _acquire_compact_lock,
        _release_compact_lock,
    )

    idx = str(tmp_path / "idx")
    os.makedirs(idx)
    lock, token_a = _acquire_compact_lock(idx)

    # simulate a stale-break + successor re-acquire: the lockfile now
    # carries the successor's token
    with open(lock) as f:
        successor = json.load(f)
    successor["token"] = "successor-token"
    with open(lock, "w") as f:
        json.dump(successor, f)

    _release_compact_lock(lock, token_a)  # must be a no-op
    assert os.path.exists(lock)
    with open(lock) as f:
        assert json.load(f)["token"] == "successor-token"

    _release_compact_lock(lock, "successor-token")  # rightful owner
    assert not os.path.exists(lock)

    # releasing an already-gone lock is a no-op, not an error
    _release_compact_lock(lock, "successor-token")


def test_compact_index_preserves_dir_mode_and_same_fs_tmp(spark, tmp_path):
    import os
    import stat

    from railgun_spark.operators.dedup import compact_index

    idx = _seed_index(spark, tmp_path)
    os.chmod(idx, 0o755)
    compact_index(spark, idx, n_files=1)
    assert stat.S_IMODE(os.stat(idx).st_mode) == 0o755
    # no stray tmp dirs left beside the index
    assert [p for p in os.listdir(tmp_path) if p.startswith(".idx_compact_")] == []


def test_embedding_dedup_against_index_batches(spark, tmp_path):
    """Continual-ingestion gate for the embedding modality: identical
    vectors collide in every sign-LSH band; an opposite vector flips every
    sign so it collides in none."""
    from pyspark.sql import Row

    from railgun_spark.operators.similarity import (
        EMB_DIM,
        GATE_BAND_BITS,
        GATE_BANDS,
        append_embedding_bands_to_index,
        embedding_dedup_against_index,
        lsh_bands_col,
    )
    from pyspark.sql import functions as F

    v1 = [1.0 if d % 3 else -1.0 for d in range(EMB_DIM)]
    v2 = [-x for x in v1]  # complement bands: disjoint from v1 in all bands
    # a third vector, verified disjoint from both before the gate test
    v3 = [float((d * 7) % 5 - 2) or 1.0 for d in range(EMB_DIM)]
    probe = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in ((1, v1), (2, v2), (3, v3))]
    )
    bands = {
        r["vec_id"]: set(enumerate(r["b"]))
        for r in probe.select(
            "vec_id",
            lsh_bands_col(
                F.col("embedding"), GATE_BANDS, GATE_BAND_BITS
            ).alias("b"),
        ).collect()
    }
    assert not (bands[1] & bands[2])
    assert not (bands[3] & bands[1]) and not (bands[3] & bands[2])

    idx = str(tmp_path / "emb_bands")
    b1 = spark.createDataFrame(
        [Row(vec_id=1, embedding=v1), Row(vec_id=2, embedding=v2),
         Row(vec_id=3, embedding=v1)]  # intra-batch dup of 1
    )
    s1 = embedding_dedup_against_index(b1, idx)
    assert sorted(r["vec_id"] for r in s1.collect()) == [1, 2]
    append_embedding_bands_to_index(s1, idx)

    b2 = spark.createDataFrame(
        [Row(vec_id=10, embedding=v2),  # cross-batch dup of 2
         Row(vec_id=11, embedding=v3)]  # new: no band shared with 1 or 2
    )
    s2 = embedding_dedup_against_index(b2, idx)
    assert sorted(r["vec_id"] for r in s2.collect()) == [11]
    append_embedding_bands_to_index(s2, idx)
    # index holds GATE_BANDS rows per admitted vector
    assert spark.read.parquet(idx).count() == 3 * GATE_BANDS


def test_unreadable_index_raises_instead_of_admitting_dups(spark, tmp_path):
    """An index that EXISTS but cannot be read must raise loudly — treating
    it as 'no index yet' would silently disable dedup for every batch."""
    import pytest as _pytest
    from pyspark.sql import Row

    from railgun_spark.operators.dedup import (
        dedup_against_index,
        near_dup_against_index,
    )

    idx = tmp_path / "fp"
    idx.mkdir()
    (idx / "part-00000.parquet").write_bytes(b"this is not a parquet file")
    b = spark.createDataFrame([Row(doc_id=1, text="aa bb cc dd")])
    with _pytest.raises(Exception):
        dedup_against_index(b, str(idx)).count()
    with _pytest.raises(Exception):
        near_dup_against_index(b, str(idx)).count()


# --------------------------- PII redaction ---------------------------
def test_redact_and_pii_report(spark):
    from pyspark.sql import Row

    from railgun_spark.operators.redact import pii_report, redact

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="contact john.doe+x@example.co.uk or call +1 (555) 123-4567 now"),
            Row(doc_id=2, text="server at 192.168.1.254 responded"),
            Row(doc_id=3, text="clean text with number 42 and id ab12cd"),
        ]
    )
    out = {r["doc_id"]: r["text"] for r in redact(df).collect()}
    assert out[1] == "contact <EMAIL> or call <PHONE> now"
    assert out[2] == "server at <IPV4> responded"
    assert out[3] == "clean text with number 42 and id ab12cd"  # untouched

    rep = {r["pattern"]: (r["n_docs"], r["n_matches"]) for r in pii_report(df).collect()}
    # the report counts each pattern on the RAW text independently, so the
    # dotted quad also registers under phone (redaction order resolves it)
    assert rep == {"email": (1, 1), "ipv4": (1, 1), "phone": (2, 2)}


def test_redact_custom_patterns_and_safe_direction(spark):
    from pyspark.sql import Row

    from railgun_spark.operators.redact import redact

    df = spark.createDataFrame([Row(text="key=sk-abcdef123456; dotted 999.1.2.3 run")])
    # digit-dot runs over-redact as phones: the documented safe direction
    assert "<PHONE>" in redact(df).first()["text"]
    # custom patterns EXTEND the defaults (the digit run still redacts)
    got = redact(df, patterns={"secret": r"sk-[A-Za-z0-9]+"}).first()["text"]
    assert got == "key=<SECRET>; dotted <PHONE> run"
    # explicit opt-out replaces the default set entirely
    got = redact(
        df, patterns={"secret": r"sk-[A-Za-z0-9]+"}, replace_defaults=True
    ).first()["text"]
    assert got == "key=<SECRET>; dotted 999.1.2.3 run"


def test_bucketed_index_same_result_fewer_shuffles(spark, tmp_path):
    """The bucketed index table must admit exactly the same rows as the
    parquet index, with FEWER exchanges in the anti-join plan (the index
    side scans in place thanks to its bucket layout)."""
    from pyspark.sql import Row

    from railgun_spark.operators.dedup import (
        append_to_bucketed_index,
        append_to_index,
        bucketize_index,
        dedup_against_bucketed_index,
        dedup_against_index,
    )

    idx = str(tmp_path / "fp")
    b1 = spark.createDataFrame([Row(doc_id=1, text="aa bb"), Row(doc_id=2, text="cc dd")])
    append_to_index(dedup_against_index(b1, idx), idx)

    table = "fp_bucketed_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    assert bucketize_index(spark, idx, table, n_buckets=8) == 2

    b2 = spark.createDataFrame(
        [Row(doc_id=10, text="aa bb"),  # dup vs index
         Row(doc_id=11, text="ee ff")]  # new
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        via_parquet = dedup_against_index(b2, idx)
        via_table = dedup_against_bucketed_index(b2, table)
        assert sorted(r["doc_id"] for r in via_table.collect()) == \
               sorted(r["doc_id"] for r in via_parquet.collect()) == [11]

        def n_exchanges(df):
            plan = df._jdf.queryExecution().executedPlan().toString()
            return plan.count("Exchange")

        plan_table = via_table._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan_table
        assert n_exchanges(via_table) < n_exchanges(via_parquet)

        # appends preserve the bucket spec and stay visible to the gate
        append_to_bucketed_index(via_table, table)
        b3 = spark.createDataFrame([Row(doc_id=20, text="ee ff")])
        assert dedup_against_bucketed_index(b3, table).count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_short_docs_never_near_dup_match(spark, tmp_path):
    """<3-word docs have no shingles hence NO bands: two short docs in one
    batch must both survive, and a short doc must survive even after other
    short docs were admitted to the index (the degenerate-band regression:
    a NULL-min signature once produced keys '0'..'3' for every short doc)."""
    from pyspark.sql import Row

    from railgun_spark.operators.dedup import (
        append_bands_to_index,
        near_dup_against_index,
    )

    idx = str(tmp_path / "bands")
    b1 = spark.createDataFrame(
        [Row(doc_id=1, text="hi"), Row(doc_id=2, text="yo there")]
    )
    assert minhash_bands(shingle_sets(b1, "doc_id"), "doc_id").count() == 0
    s1 = near_dup_against_index(b1, idx)
    assert sorted(r["doc_id"] for r in s1.collect()) == [1, 2]
    append_bands_to_index(s1, idx)  # writes nothing for short docs

    b2 = spark.createDataFrame([Row(doc_id=10, text="hey now")])
    assert [r["doc_id"] for r in near_dup_against_index(b2, idx).collect()] == [10]


_GOLDEN_TEXT_BANDS = [
    "0:166047306:440158014:380842389:542062907",
    "0:345851042:145502943:474819217:50208269",
    "0:345851042:145502943:474819217:50208269",
    "1:338440468:321658926:66688969:112687711",
    "1:338440468:88375464:231400806:112687711",
    "1:605280069:238172417:814927537:265932370",
    "2:104648940:29561172:10771787:781549",
    "2:112961126:29561172:10771787:781549",
    "2:778444150:636703240:259149987:413439642",
    "3:279370328:29991536:52241975:261202091",
    "3:279370328:29991536:52241975:628202786",
    "3:820554963:1247146027:66005660:437062872",
]
_GOLDEN_TEXT_WINDOWS = [
    81575525717369554,
    434591219844338095,
    521384712224479079,
    574379157323263950,
    778907718042404368,
]


def test_text_index_rows_golden(spark, tmp_path):
    """`append_bands_to_index` and `append_window_hashes_to_index` write
    exactly the recorded rows: the stored band keys and window hashes of
    the text indexes are a persisted format. A doc under 3 words writes
    no band; a doc under DUP_WINDOW_K words writes no window hash."""
    from pyspark.sql import Row

    from railgun_spark.operators.dedup import (
        append_bands_to_index,
        append_window_hashes_to_index,
    )

    docs = [
        Row(doc_id=1, text="The quick brown fox jumps over the lazy dog, again and again today."),
        Row(doc_id=2, text="Copied: the quick brown fox jumps over the lazy dog again and again!"),
        Row(doc_id=3, text="only five short words here"),
        Row(doc_id=4, text="two words"),
    ]

    def written(df, kind):
        path = str(tmp_path / f"{kind}_{df.count()}")
        if kind == "bands":
            append_bands_to_index(df, path)
            return sorted(r[0] for r in spark.read.schema("band_key STRING").parquet(path).collect())
        append_window_hashes_to_index(df, path)
        return sorted(r[0] for r in spark.read.schema("h BIGINT").parquet(path).collect())

    every = spark.createDataFrame(docs)
    assert written(every, "bands") == _GOLDEN_TEXT_BANDS
    assert written(every, "windows") == _GOLDEN_TEXT_WINDOWS
    assert written(spark.createDataFrame(docs[3:]), "bands") == []
    assert written(spark.createDataFrame(docs[2:]), "windows") == []


def test_dedup_exact_keep_first_nonunique_ids(spark):
    """A row sharing an id with a winner but whose own content LOST its
    hash group must still be dropped (the id-only semi-join regression)."""
    from railgun_spark.operators.dedup import dedup_exact_keep_first

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (2, "b")], ["id", "text"]
    )
    out = sorted((r["id"], r["text"]) for r in dedup_exact_keep_first(df, ["text"]).collect())
    assert out == [(1, "a"), (2, "b")]


def test_containment_blocker_sees_every_doc(spark):
    """The df-cap recall counter: at sf0.01 every shingled doc must hold at
    least one rare shingle (counter == 0); non-zero means the blocker is
    silently excluding the most-duplicated region of the corpus."""
    from railgun_spark.operators.dedup import containment_recall_report

    row = containment_recall_report(spark, "/root/testdata/sf0.01").collect()[0]
    assert row["n_docs"] > 0 and row["n_docs_no_rare_shingles"] == 0


def test_redact_phone_does_not_bridge_numeric_lists(spark):
    """Benign space-separated numeric runs (years, scores) must survive:
    the unbounded separator class once collapsed them into one <PHONE>."""
    from pyspark.sql import Row

    from railgun_spark.operators.redact import redact

    keep = "scores 2020 2021 2022 2023 remained stable"
    assert redact(spark.createDataFrame([Row(text=keep)])).first()["text"] == keep
    got = redact(
        spark.createDataFrame([Row(text="call +44 20 7946 0958 or (555) 123-4567")])
    ).first()["text"]
    assert got == "call <PHONE> or <PHONE>"


def test_dedup_exact_keep_first_strict_full_row_dups(spark):
    """Full-row duplicates (same id, same content) both survive the default
    (hash,id) semi-join — the documented edge; strict=True's row_number
    path keeps exactly one row per content hash."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(id=1, text="a"), Row(id=1, text="a"), Row(id=2, text="b")]
    )
    assert dedup_exact_keep_first(df, ["text"]).count() == 3
    out = dedup_exact_keep_first(df, ["text"], strict=True)
    assert sorted((r["id"], r["text"]) for r in out.collect()) == [(1, "a"), (2, "b")]


def test_bpe_train_matches_reference_implementation(spark, sf_dir):
    """The distributed BPE loop (vocab-frame pair counts + Catalyst fold
    merge) must learn the exact merge sequence a plain in-memory greedy
    BPE learns from the same word counts, tie-break included."""
    from collections import Counter

    import duckdb

    from railgun_spark.operators.text import bpe_train

    wc = duckdb.sql(
        "SELECT w, count(*) AS c FROM (SELECT unnest(regexp_extract_all("
        f"lower(text), '[a-z0-9]+')) AS w FROM '{sf_dir}/documents.parquet')"
        " GROUP BY w"
    ).fetchall()

    vocab = [(list(w), c) for w, c in wc]
    expected = []
    for _ in range(8):
        pc = Counter()
        for sym, c in vocab:
            for i in range(len(sym) - 1):
                pc[(sym[i], sym[i + 1])] += c
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        expected.append(best)
        a, b = best
        for sym, _ in vocab:
            out = []
            for s in sym:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            sym[:] = out
    assert bpe_train(spark, sf_dir, n_merges=8) == expected and len(expected) == 8


def test_bpe_merge_fold_overlap_semantics(spark):
    """The Catalyst merge fold must apply left-to-right NON-overlapping
    merges — the semantics every reference BPE implementation uses. The
    overlap cases are the ones a naive pairwise replace gets wrong."""
    from pyspark.sql import Row

    from railgun_spark.operators.text import merge_symbols_col

    cases = {
        "aaa": ["aa", "a"],          # not ["a","aa"]: leftmost wins
        "aaaa": ["aa", "aa"],
        "aaaaa": ["aa", "aa", "a"],
        "baaa": ["b", "aa", "a"],
        "abab": ["ab", "ab"],        # pair (a,b) for contrast below
        "b": ["b"],
        # (empty string omitted: F.split('','') yields [''], a split
        # artifact — bpe_train's [a-z0-9]+ word regex can't produce it)
    }
    df = spark.createDataFrame([Row(w=w) for w in cases])
    from pyspark.sql import functions as F

    got_aa = {
        r["w"]: r["m"]
        for r in df.select(
            "w", merge_symbols_col(F.split("w", ""), "a", "a").alias("m")
        ).collect()
    }
    for w, exp in cases.items():
        if w != "abab":
            assert got_aa[w] == exp, (w, got_aa[w])
    got_ab = df.filter(F.col("w") == "abab").select(
        merge_symbols_col(F.split("w", ""), "a", "b").alias("m")
    ).first()["m"]
    assert got_ab == ["ab", "ab"]


def test_redact_phone_numeric_list_sweep(spark):
    """Sweep of benign numeric-list shapes that must survive redaction
    whole (the unbounded separator class used to fuse all of them)."""
    from pyspark.sql import Row

    from railgun_spark.operators.redact import redact

    keep = [
        "2020 2021 2022 2023 2024 2025 2026",      # year list
        "scores were 10 24 133 9 77 41 5",          # short tokens
        "ids 1234 5678 9012 3456 7890 1234 5678",  # 4-digit columns
        "page 12, page 34, page 56, page 78",       # punctuated shorts
    ]
    df = spark.createDataFrame([Row(text=t) for t in keep])
    got = [r["text"] for r in redact(df).collect()]
    assert got == keep


def test_kmeans_train_matches_numpy_reference(spark):
    """train_ivf_centroids to convergence must reproduce an in-memory numpy
    Lloyd's loop with the same init, rounding, and tie-breaks."""
    import numpy as np

    from railgun_spark.operators.similarity import train_ivf_centroids

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").orderBy("vec_id")
    vecs = emb.select("vec_id", to_double(F.col("embedding")).alias("v"))
    X = np.array([list(map(float, r["embedding"])) for r in emb.collect()])
    k = 4
    cents = {i: X[i].tolist() for i in range(k)}
    for _ in range(20):
        d = np.stack(
            [np.round(((X - np.array(c)) ** 2).sum(axis=1), 6) for c in cents.values()]
        )  # k x n, same rounded-at-6 distances as the Spark side
        assign = d.argmin(axis=0)  # argmin takes the first (lowest cid) on ties
        new = {}
        for cid in range(k):
            pts = X[assign == cid]
            new[cid] = (
                np.round(pts.mean(axis=0), 4).tolist() if len(pts) else cents[cid]
            )
        movement = max(
            max(abs(a - b) for a, b in zip(cents[c], new[c])) for c in cents
        )
        cents = new
        if movement < 1e-4:
            break

    got = dict(train_ivf_centroids(vecs, k=k, iters=20, sample=None))
    assert set(got) == set(cents)
    for cid in cents:
        assert got[cid] == [round(v, 4) for v in cents[cid]], cid


def test_pq_train_reduces_quantization_distortion(spark):
    """Trained sub-codebooks must reconstruct vectors strictly better than
    the first-K init codebooks (the Lloyd's guarantee, per subspace), and
    carry the right shapes (m subspaces x ks centroids x dim/m)."""
    import numpy as np

    from railgun_spark.operators.similarity import (
        EMB_DIM,
        PQ_KS,
        PQ_M,
        train_pq_codebooks,
    )

    sf_dir = "/root/testdata/sf0.001"
    ds = EMB_DIM // PQ_M
    # first-K init from vec_ids 1..KS: the set ann_pq_topk encodes
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    ).filter("vec_id != 0")
    books = {
        mm: dict(entries)
        for mm, entries in train_pq_codebooks(vecs, iters=10, sample=None).items()
    }
    assert set(books) == set(range(PQ_M))
    for mm in range(PQ_M):
        assert set(books[mm]) == set(range(1, PQ_KS + 1))
        assert all(len(c) == ds for c in books[mm].values())

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").orderBy("vec_id")
    X = np.array([list(map(float, r["embedding"])) for r in emb.collect()])
    init = {
        mm: {j: X[j][mm * ds : (mm + 1) * ds].tolist() for j in range(1, PQ_KS + 1)}
        for mm in range(PQ_M)
    }

    def distortion(bks):
        total = 0.0
        for mm in range(PQ_M):
            sub = X[:, mm * ds : (mm + 1) * ds]
            C = np.array([bks[mm][j] for j in sorted(bks[mm])])
            d = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            total += d.min(axis=1).sum()
        return total

    assert distortion(books) < distortion(init)


def test_ivf_search_with_trained_centroids_recall(spark):
    """train_ivf_centroids -> ivf_search composition: recall@10 vs brute force is
    non-decreasing in nprobe and exactly 1.0 when every cell is probed."""
    from railgun_spark.operators.similarity import (
        ivf_search,
        knn_brute_force,
        train_ivf_centroids,
    )

    sf_dir = "/root/testdata/sf0.001"
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    cents = train_ivf_centroids(vecs, k=8, iters=10, sample=None)
    exact = [r["vec_id"] for r in knn_brute_force(spark, sf_dir).collect()]

    def recall(nprobe):
        got = {r["vec_id"] for r in ivf_search(spark, sf_dir, cents, nprobe=nprobe).collect()}
        return len(got & set(exact)) / len(exact)

    r1, r4, r8 = recall(1), recall(4), recall(8)
    assert r1 <= r4 <= r8 == 1.0


def test_redact_phone_nanp_requires_parens(spark):
    """Parenless 3-3-4 digit groups are shape-identical to benign numeric
    lists and must NOT redact; the parenthesized NANP form must."""
    from pyspark.sql import Row

    from railgun_spark.operators.redact import redact

    keep = "call 555 123 4567 maybe"  # documented false-negative
    assert redact(spark.createDataFrame([Row(text=keep)])).first()["text"] == keep
    got = redact(
        spark.createDataFrame([Row(text="call (555) 123-4567 now")])
    ).first()["text"]
    assert got == "call <PHONE> now"


def test_connected_components_long_chain_pointer_jump(spark):
    """A 200-node chain (diameter far past max_iter) must still converge:
    pointer jumping gives O(log diameter) rounds. The old pure-propagation
    loop silently returned partially-propagated labels here."""
    from railgun_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "a: long, b: long"
    )
    comp = connected_components(edges)
    labels = {r["label"] for r in comp.collect()}
    assert labels == {0} and comp.count() == 201


def test_assign_clusters_batch_parity(spark):
    """The BLAS large-K assignment must agree with the oracle-exact
    expression argmin on the fixture data (trained centroids, K=8)."""
    from pyspark.sql import functions as F

    from railgun_spark.operators.similarity import (
        assign_clusters,
        to_double,
        train_ivf_centroids,
    )

    sf_dir = "/root/testdata/sf0.001"
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    cents = dict(train_ivf_centroids(vecs, k=8, iters=10, sample=None))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", to_double(F.col("embedding")).alias("e")
    )
    exact = {
        r["vec_id"]: r["cluster"] for r in assign_clusters(emb, cents, arrow=False).collect()
    }
    fast = {
        r["vec_id"]: r["cluster"] for r in assign_clusters(emb, cents, arrow=True).collect()
    }
    assert fast == exact and len(exact) > 0


def test_jaccard_similarity_join_matches_brute_force(spark):
    """Prefix filtering must be LOSSLESS: on randomized set collections the
    join returns exactly the brute-force all-pairs result, across several
    thresholds, with and without a blocking column. Exercises the edge
    shapes the sf0.01 oracle gate can miss: singleton sets, identical
    sets, subsets right at the threshold, and tiny universes that force
    heavy prefix-token collisions."""
    import itertools
    import random

    from railgun_spark.operators.dedup import jaccard_similarity_join

    rng = random.Random(1234)
    rows = []
    for i in range(120):
        block = rng.choice(["x", "y"])
        universe = range(30)  # small universe -> dense overlaps
        size = rng.randint(1, 12)
        s = sorted(rng.sample(universe, size))
        rows.append((i, block, s))
    # adversarial additions: exact dup pair, subset pair, singleton twins
    rows += [
        (200, "x", [1, 2, 3, 4, 5]),
        (201, "x", [1, 2, 3, 4, 5]),
        (202, "x", [1, 2, 3, 4]),
        (203, "y", [7]),
        (204, "y", [7]),
    ]
    df = spark.createDataFrame(rows, "id: long, block: string, s: array<long>")

    def brute(tau_num, tau_den, use_block):
        out = set()
        for (ia, ba, sa), (ib, bb, sb) in itertools.combinations(rows, 2):
            if use_block and ba != bb:
                continue
            a, b = set(sa), set(sb)
            inter = len(a & b)
            if inter * 1.0 / len(a | b) >= tau_num / tau_den:
                out.add((min(ia, ib), max(ia, ib)))
        return out

    for tau_num, tau_den in [(1, 2), (4, 5), (1, 1)]:
        for use_block in (False, True):
            bc = ("block",) if use_block else ()
            got = {
                (r["id_a"], r["id_b"])
                for r in jaccard_similarity_join(
                    df, "id", "s", tau_num, tau_den, block_cols=bc
                ).collect()
            }
            assert got == brute(tau_num, tau_den, use_block), (
                tau_num,
                tau_den,
                use_block,
            )


def test_duplicated_span_removal_cuts_shared_span_only(spark, tmp_path):
    """Two docs sharing a verbatim 12-word span lose exactly that span
    (plus nothing else); a third unrelated doc is untouched; a short doc
    (< K words) passes through whole."""
    from railgun_spark.operators.dedup import DUP_WINDOW_K, duplicated_span_removal

    assert DUP_WINDOW_K == 10
    span = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"
    rows = [
        (1, f"unique one two three {span}", "en", "s", 0),
        (2, f"{span} totally different tail words here", "en", "s", 0),
        (3, "nothing shared in this medium length document at all " * 3, "en", "s", 0),
        (4, "tiny doc", "en", "s", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id: long, text: string, lang: string, source: string, n_chars: long"
    )
    d = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(d + "/documents.parquet")
    out = {r["doc_id"]: r for r in duplicated_span_removal(spark, d).collect()}
    assert len(out) == 4
    # the shared 12-word span is fully covered in both docs 1 and 2
    assert out[1]["n_removed"] == 12 and out[1]["cleaned_text"] == "unique one two three"
    assert out[2]["n_removed"] == 12
    assert out[2]["cleaned_text"] == "totally different tail words here"
    assert out[3]["n_removed"] == 0
    assert out[3]["cleaned_text"].startswith("nothing shared")
    assert out[4]["n_removed"] == 0 and out[4]["cleaned_text"] == "tiny doc"


def test_containment_similarity_join_matches_brute_force(spark):
    """The one-sided prefix filter must be lossless for containment
    C = inter/min: randomized sets vs brute force across thresholds,
    including subset pairs (C=1.0 at any size gap) the Jaccard join's
    size-ratio prune would reject."""
    import itertools
    import random

    from railgun_spark.operators.dedup import containment_similarity_join

    rng = random.Random(99)
    rows = []
    for i in range(100):
        size = rng.randint(1, 14)
        rows.append((i, sorted(rng.sample(range(40), size))))
    # subset pairs with big size gaps: C = 1.0, Jaccard well below threshold
    rows += [
        (200, [0, 1, 2]),
        (201, [0, 1, 2] + list(range(10, 24))),
        (202, [39]),
        (203, list(range(25, 40))),
    ]
    df = spark.createDataFrame(rows, "id: long, s: array<long>")

    def brute(tau_num, tau_den):
        out = set()
        for (ia, sa), (ib, sb) in itertools.combinations(rows, 2):
            a, b = set(sa), set(sb)
            if len(a & b) * 1.0 / min(len(a), len(b)) >= tau_num / tau_den:
                out.add((min(ia, ib), max(ia, ib)))
        return out

    for tau_num, tau_den in [(1, 2), (9, 10), (1, 1)]:
        got = {
            (min(r["id_small"], r["id_big"]), max(r["id_small"], r["id_big"]))
            for r in containment_similarity_join(df, "id", "s", tau_num, tau_den).collect()
        }
        assert got == brute(tau_num, tau_den), (tau_num, tau_den)
    # the big-gap subset pair must be present at tau = 1.0
    got = {
        (r["id_small"], r["id_big"])
        for r in containment_similarity_join(df, "id", "s", 1, 1).collect()
    }
    assert (200, 201) in got


def test_jaccard_similarity_join_ab_matches_brute_force(spark):
    """The cross-table prefix filter must be lossless: randomized left and
    right collections vs brute force, including identical cross-table rows
    and sets that only exist on one side."""
    import random

    from railgun_spark.operators.dedup import jaccard_similarity_join_ab

    rng = random.Random(7)
    left = [(i, sorted(rng.sample(range(35), rng.randint(1, 12)))) for i in range(80)]
    right = [(1000 + i, sorted(rng.sample(range(35), rng.randint(1, 12)))) for i in range(25)]
    right += [(2000, left[0][1]), (2001, [34])]  # exact cross-table dup + singleton
    ldf = spark.createDataFrame(left, "id: long, s: array<long>")
    rdf = spark.createDataFrame(right, "id: long, s: array<long>")

    def brute(tau_num, tau_den):
        out = set()
        for il, sl in left:
            for ir, sr in right:
                a, b = set(sl), set(sr)
                if len(a & b) * 1.0 / len(a | b) >= tau_num / tau_den:
                    out.add((il, ir))
        return out

    for tau_num, tau_den in [(1, 2), (7, 10), (1, 1)]:
        got = {
            (r["id_left"], r["id_right"])
            for r in jaccard_similarity_join_ab(ldf, rdf, "id", "s", tau_num, tau_den).collect()
        }
        assert got == brute(tau_num, tau_den), (tau_num, tau_den)
    assert (left[0][0], 2000) in brute(1, 1)


def test_duplicated_span_removal_matches_python_reference(spark, tmp_path):
    """Randomized corpus (short docs, tiny vocab => accidental window
    collisions, planted shared spans, sub-K docs) vs a direct Python
    reference implementation of the coverage-union semantics."""
    import random
    import re

    from railgun_spark.operators.dedup import DUP_WINDOW_K, duplicated_span_removal

    K = DUP_WINDOW_K
    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    planted = " ".join(rng.choice(vocab) for _ in range(K + 3))
    rows = []
    for i in range(40):
        n = rng.randint(0, 30)
        text = " ".join(rng.choice(vocab) for _ in range(n))
        if i % 5 == 0:
            text = f"{text} {planted}" if text else planted
        rows.append((i, text, "en", "s", len(text)))
    # zero-word docs (empty / punctuation-only / non-latin): the rewrite
    # must pass them through whole, not crash on element_at of []
    rows += [(90, "", "en", "s", 0), (91, "!!! ??? ...", "en", "s", 11)]
    df = spark.createDataFrame(
        rows, "doc_id: long, text: string, lang: string, source: string, n_chars: long"
    )
    d = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(d + "/documents.parquet")

    # reference: window -> set(docs); covered = union of duplicated windows
    win2docs: dict[tuple, set] = {}
    toks = {did: re.findall(r"[a-z0-9]+", text.lower()) for did, text, *_ in rows}
    for did, ws in toks.items():
        for p in range(len(ws) - K + 1):
            win2docs.setdefault(tuple(ws[p : p + K]), set()).add(did)
    expected = {}
    for did, ws in toks.items():
        covered = set()
        for p in range(len(ws) - K + 1):
            if len(win2docs[tuple(ws[p : p + K])]) >= 2:
                covered.update(range(p, p + K))
        kept = [w for i, w in enumerate(ws) if i not in covered]
        expected[did] = (len(ws), len(covered), " ".join(kept))

    got = {
        r["doc_id"]: (r["n_words"], r["n_removed"], r["cleaned_text"])
        for r in duplicated_span_removal(spark, d).collect()
    }
    assert got == expected


def test_span_dup_against_index_two_waves(spark, tmp_path):
    """Wave 1 (originals) passes and commits its window hashes; wave 2
    copies are flagged against history while fresh docs pass; an
    intra-batch pair of copies flags BOTH ways; replayed appends leave
    semi-join results unchanged."""
    from railgun_spark.operators.dedup import (
        append_window_hashes_to_index,
        span_dup_against_index,
    )

    idx = str(tmp_path / "spanidx")
    span = " ".join(f"s{i}" for i in range(12))
    other = " ".join(f"t{i}" for i in range(12))
    w1 = spark.createDataFrame(
        [(1, f"{span} unique tail one"), (2, "completely different words " + other)],
        "doc_id: long, text: string",
    )
    flagged1 = span_dup_against_index(w1, idx)
    assert flagged1.count() == 0  # nothing in history, no intra-batch dups
    append_window_hashes_to_index(w1, idx)

    fresh = " ".join(f"u{i}" for i in range(15))
    shared = " ".join(f"v{i}" for i in range(12))
    w2 = spark.createDataFrame(
        [
            (10, f"{span} new suffix here"),     # copy of history span
            (11, fresh),                          # fresh: passes
            (12, f"prefix words {other}"),        # copy of history span
            (13, f"intra a {shared}"),            # intra-batch pair with 14
            (14, f"intra b {shared}"),
        ],
        "doc_id: long, text: string",
    )
    got = {r["doc_id"]: r for r in span_dup_against_index(w2, idx).collect()}
    assert 10 in got and 12 in got, got
    assert 13 in got and 14 in got  # intra-batch duplication counts both ways
    assert 11 not in got
    assert all(0 < r["dup_frac"] <= 1.0 for r in got.values())

    # replayed append: same distinct hashes again; flags unchanged
    append_window_hashes_to_index(w1, idx)
    again = {r["doc_id"] for r in span_dup_against_index(w2, idx).collect()}
    assert again == set(got)

    # the maintenance pass folds replay duplicates without changing answers
    from railgun_spark.operators.dedup import compact_index

    n = compact_index(spark, idx)
    assert n == spark.read.parquet(idx).distinct().count()
    after = {r["doc_id"] for r in span_dup_against_index(w2, idx).collect()}
    assert after == set(got)


def test_train_quality_classifier_separates_planted_classes(spark):
    """Full-batch distributed LR over hashed features must separate two
    disjoint-vocabulary classes on its training set, improve over the
    zero-weight start, and agree with an in-driver reference
    implementation of the same gradient updates."""
    import math
    import random

    from railgun_spark.operators.text import (
        CLASSIFIER_BUCKETS,
        score_documents,
        train_quality_classifier,
    )

    rng = random.Random(3)
    good_vocab = [f"good{i}" for i in range(40)]
    bad_vocab = [f"spam{i}" for i in range(40)]
    rows = []
    for i in range(60):
        vocab, y = (good_vocab, 1) if i % 2 == 0 else (bad_vocab, 0)
        text = " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 20)))
        rows.append((i, text, y))
    df = spark.createDataFrame(rows, "doc_id: long, text: string, label: int")

    w = train_quality_classifier(df, "label", iters=15)
    assert len(w) == CLASSIFIER_BUCKETS and any(x != 0 for x in w)
    scores = {
        r["doc_id"]: r["score"] for r in score_documents(df, w).collect()
    }
    correct = sum(
        1 for i, _, y in rows if (scores[i] > 0) == (y == 1)
    )
    assert correct / len(rows) >= 0.95

    # driver reference: identical full-batch GD on the same features
    import re

    feats = []
    for i, text, y in rows:
        toks = re.findall(r"[a-z0-9]+", text.lower())
        b = {}
        for t in toks:
            h = int(__import__("hashlib").md5(t.encode()).hexdigest()[:15], 16)
            b[h % CLASSIFIER_BUCKETS] = b.get(h % CLASSIFIER_BUCKETS, 0) + 1 / len(toks)
        feats.append((b, y))
    ref = [0.0] * CLASSIFIER_BUCKETS
    for _ in range(15):
        grad = [0.0] * CLASSIFIER_BUCKETS
        for b, y in feats:
            dot = sum(ref[k] * v for k, v in b.items())
            r = 1.0 / (1.0 + math.exp(-dot)) - y
            for k, v in b.items():
                grad[k] += r * v
        for k in range(CLASSIFIER_BUCKETS):
            ref[k] -= 2.0 * grad[k] / len(feats)
    assert max(abs(a - c) for a, c in zip(w, ref)) < 1e-6


def test_ingest_gate_on_binary_media_content(spark, tmp_path):
    """The exact-dedup ingest gate works unchanged on BINARY media
    payloads: duplicate bytes are rejected intra-batch and cross-batch
    via the raw-byte hash, distinct payloads admit."""
    from pyspark.sql import Row

    from railgun_spark.streaming.ingest import ingest_batch

    idx, sink = str(tmp_path / "midx"), str(tmp_path / "msink")
    blob_a, blob_b = bytes(range(200)), b"\x89PNG" + b"\x01" * 500
    w1 = spark.createDataFrame(
        [Row(media_id=1, content=bytearray(blob_a)),
         Row(media_id=2, content=bytearray(blob_a)),   # intra-batch dup
         Row(media_id=3, content=bytearray(blob_b))],
        "media_id: long, content: binary",
    )
    assert ingest_batch(w1, idx, sink, text_col="content", id_col="media_id") == 2
    w2 = spark.createDataFrame(
        [Row(media_id=9, content=bytearray(blob_b)),   # cross-batch dup
         Row(media_id=10, content=bytearray(b"fresh bytes"))],
        "media_id: long, content: binary",
    )
    assert ingest_batch(w2, idx, sink, text_col="content", id_col="media_id") == 1
    admitted = {r["media_id"] for r in spark.read.parquet(sink).collect()}
    assert admitted == {1, 3, 10}


def test_embedding_gate_dim_threading(spark, tmp_path):
    """The sign-LSH band gate accepts any vector dimension via dim=:
    8-dim CENTERED vectors gate correctly (near-dup rejected against the
    index, different direction admitted). Note: sign-LSH separates
    DIRECTION — low-dim all-positive features (e.g. raw image quadrant
    means) collapse to near-identical sign patterns and need centering
    or a learned embedding before this gate; that is a property of the
    method, asserted here by construction, not a plumbing limit."""
    from railgun_spark.operators.similarity import (
        append_embedding_bands_to_index,
        embedding_dedup_against_index,
    )

    idx = str(tmp_path / "bands8")
    v = [1.0, -2.0, 3.0, -4.0, 5.0, -6.0, 7.0, -8.0]
    near = [x + 0.01 for x in v]
    diff = [-x for x in v]  # opposite direction: no band can collide
    w1 = spark.createDataFrame([(1, v)], "vec_id: long, feature: array<double>")
    s1 = embedding_dedup_against_index(w1, idx, vec_col="feature", dim=8)
    assert s1.count() == 1
    append_embedding_bands_to_index(s1, idx, vec_col="feature", dim=8)

    w2 = spark.createDataFrame(
        [(10, near), (11, diff)], "vec_id: long, feature: array<double>"
    )
    s2 = embedding_dedup_against_index(w2, idx, vec_col="feature", dim=8)
    admitted = {r["vec_id"] for r in s2.collect()}
    assert admitted == {11}


def test_embedding_gate_refuses_foreign_geometry_index(spark, tmp_path):
    """An index whose rows lack the geometry tag (pre-r8 config) or carry
    a different bits value cannot collide meaningfully with the current
    signatures — treating it as history would silently re-admit every
    duplicate it holds. The gate must refuse loudly, and a matching-
    geometry index with mixed dims must still filter by dim."""
    import pytest as _pytest
    from pyspark.sql import Row

    from railgun_spark.operators.similarity import (
        EMB_DIM,
        GATE_BAND_BITS,
        _embedding_band_rows,
        append_embedding_bands_to_index,
        embedding_dedup_against_index,
    )
    from pyspark.sql import functions as F

    v1 = [1.0 if d % 3 else -1.0 for d in range(EMB_DIM)]
    w1 = spark.createDataFrame([Row(vec_id=1, embedding=v1)])

    # index written WITHOUT the bits tag (simulated pre-r8 writer)
    idx_old = str(tmp_path / "pre_r8")
    _embedding_band_rows(w1, "embedding", "vec_id").select(
        "band_idx", "band_val", "dim"
    ).write.parquet(idx_old)
    with _pytest.raises(ValueError, match="geometry"):
        embedding_dedup_against_index(w1, idx_old)

    # index rows tagged with a DIFFERENT bits value
    idx_foreign = str(tmp_path / "foreign")
    _embedding_band_rows(w1, "embedding", "vec_id").withColumn(
        "bits", F.lit(GATE_BAND_BITS - 1)
    ).select("band_idx", "band_val", "dim", "bits").write.parquet(idx_foreign)
    with _pytest.raises(ValueError, match="different gate geometry"):
        embedding_dedup_against_index(w1, idx_foreign)

    # matching geometry, mixed dims: only same-dim rows gate
    idx = str(tmp_path / "mixed_dim")
    append_embedding_bands_to_index(w1, idx)
    v8 = [1.0, -2.0, 3.0, -4.0, 5.0, -6.0, 7.0, -8.0]
    w8 = spark.createDataFrame([(5, v8)], "vec_id: long, feature: array<double>")
    s8 = embedding_dedup_against_index(w8, idx, vec_col="feature", dim=8)
    assert s8.count() == 1  # 64-dim history does not gate 8-dim vectors
    append_embedding_bands_to_index(s8, idx, vec_col="feature", dim=8)
    assert embedding_dedup_against_index(w1, idx).count() == 0  # still seen
    assert (
        embedding_dedup_against_index(w8, idx, vec_col="feature", dim=8).count() == 0
    )


def test_ingest_span_gate_refuses_binary_content(spark, tmp_path):
    """The span gate word-splits text; binary content must be refused
    loudly, not silently tokenized through an implicit cast."""
    import pytest as _pytest

    from pyspark.sql import Row

    from railgun_spark.streaming.ingest import ingest_batch

    df = spark.createDataFrame(
        [Row(media_id=1, content=bytearray(b"\x00\x01binary"))],
        "media_id: long, content: binary",
    )
    with _pytest.raises(ValueError, match="binary-safe"):
        ingest_batch(
            df, str(tmp_path / "i"), str(tmp_path / "s"),
            text_col="content", id_col="media_id",
            span_index_path=str(tmp_path / "si"),
        )


def test_band_geometry_math():
    """band_geometry returns (bands, bits, predicted_recall) satisfying
    the S-curve model at the requested threshold, prefers the widest
    bands that fit, and the shipped default config meets its contract."""
    import math

    import pytest as _pytest

    from railgun_spark.operators.similarity import (
        NEAR_DUP_BAND_BITS,
        NEAR_DUP_BANDS,
        NEAR_DUP_COS,
        band_geometry,
    )

    def predicted(tau, bands, bits):
        p = (1.0 - math.acos(tau) / math.pi) ** bits
        return 1.0 - (1.0 - p) ** bands

    # the shipped default geometry meets >=0.95 predicted recall at the
    # default threshold — the r7 defect this helper exists to prevent
    assert predicted(NEAR_DUP_COS, NEAR_DUP_BANDS, NEAR_DUP_BAND_BITS) >= 0.95

    for tau in (0.4, 0.6, 0.8, 0.95):
        bands, bits, recall = band_geometry(tau, target_recall=0.95, max_bands=32)
        assert bands <= 32 and bits >= 1
        assert recall >= 0.95
        assert abs(recall - predicted(tau, bands, bits)) < 1e-9
        # widest-fitting bands: one more bit would need > max_bands
        p_next = (1.0 - math.acos(tau) / math.pi) ** (bits + 1)
        need_next = math.ceil(math.log(0.05) / math.log(1.0 - p_next))
        assert need_next > 32

    # higher thresholds afford wider bands (better background rejection)
    assert band_geometry(0.9)[1] > band_geometry(0.4)[1]
    # unreachable target within the band cap raises instead of under-delivering
    with _pytest.raises(ValueError, match="no sign-LSH geometry"):
        band_geometry(0.05, target_recall=0.999, max_bands=2)


def test_distributed_global_rank_matches_window_ntile(spark):
    """with_global_rank + ntile_from_rank must reproduce Spark's own
    NTILE over a single-partition window exactly (including the
    remainder rule), stay partition-invariant, and never plan an
    Exchange SinglePartition."""
    from pyspark.sql import Row, Window
    from pyspark.sql import functions as F

    from railgun_spark.operators.rank import ntile_from_rank, with_global_rank

    rows = [Row(k=i, v=(i * 7919) % 101) for i in range(137)]
    for n in (4, 10):
        for parts in (1, 5):
            df = spark.createDataFrame(rows).repartition(parts)
            ranked, total = with_global_rank(df, ["v", "k"])
            assert total == 137
            mine = {
                r["k"]: r["b"]
                for r in ranked.withColumn(
                    "b", ntile_from_rank("__rank", n, total)
                ).collect()
            }
            ref = {
                r["k"]: r["b"]
                for r in spark.createDataFrame(rows)
                .withColumn("b", F.ntile(n).over(Window.orderBy("v", "k")))
                .collect()
            }
            assert mine == ref
    # ranks are a permutation of 0..total-1
    got = sorted(r["__rank"] for r in ranked.collect())
    assert got == list(range(137))
    # fewer rows than buckets: each row its own bucket
    small = spark.createDataFrame(rows[:3])
    ranked, total = with_global_rank(small, ["v", "k"])
    bs = sorted(
        r["b"] for r in ranked.withColumn("b", ntile_from_rank("__rank", 10, total)).collect()
    )
    assert bs == [1, 2, 3]
    # no single-partition funnel in the plan
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_bpe_encode_applies_merges_in_rank_order(spark, sf_dir):
    """bpe_encode: greedy lowest-rank-first with left-to-right
    non-overlapping application (hand-pinned outcomes), order-preserving
    document reassembly, empty-text rows keep an empty array, and with
    TRAINED merges every document's tokens concatenate back to exactly
    its lowercased word stream (lossless segmentation invariant)."""
    from pyspark.sql import functions as F

    from railgun_spark.operators.text import bpe_encode, bpe_train

    df = spark.createDataFrame(
        [(1, "abcabd abx"), (2, ""), (3, "ZZZ zz"), (4, "ba ab")],
        "doc_id: long, text: string",
    )
    merges = [("a", "b"), ("ab", "c")]
    rows = {r["doc_id"]: r["tokens"] for r in bpe_encode(df, merges).collect()}
    # "abcabd": ab+ab first (rank 0, both occurrences), then ab+c (rank 1)
    assert rows[1] == ["abc", "ab", "d", "ab", "x"]
    assert rows[2] == []
    assert rows[3] == ["z", "z", "z", "z", "z"]  # no merge applies
    assert rows[4] == ["b", "a", "ab"]  # "ba" untouched; word order kept

    # partitioning must not change reassembly order
    rows7 = {
        r["doc_id"]: r["tokens"]
        for r in bpe_encode(df.repartition(7), merges).collect()
    }
    assert rows7 == rows

    # trained merges on real data: tokens concatenate back to the words
    trained = bpe_train(spark, sf_dir, n_merges=8)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    enc = bpe_encode(docs, trained)
    bad = enc.withColumn(
        "joined", F.concat_ws("", "tokens")
    ).withColumn(
        "expected",
        F.concat_ws(
            "",
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0),
        ),
    ).filter(F.col("joined") != F.col("expected"))
    assert bad.count() == 0


def test_embedding_gate_does_not_saturate(spark, tmp_path):
    """Regression for the r7 4x4-bit gate geometry, whose 64-key value
    space saturated into reject-everything after a few dozen admitted
    vectors: with 24-bit bands, admitting 40 random vectors must still
    let a fresh, unrelated vector through (false-reject ~ 4N/2^24)."""
    import numpy as np
    from pyspark.sql import Row

    from railgun_spark.operators.similarity import (
        EMB_DIM,
        append_embedding_bands_to_index,
        embedding_dedup_against_index,
    )

    rng = np.random.RandomState(19)
    idx = str(tmp_path / "sat_bands")
    batch = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in rng.randn(EMB_DIM)])
         for i in range(40)]
    )
    s = embedding_dedup_against_index(batch, idx)
    n_admitted = s.count()
    # random gaussian vectors are mutually near-orthogonal: the intra-batch
    # 24-bit band collision rate is ~40*40*4/2^24 — everything admits
    assert n_admitted == 40
    append_embedding_bands_to_index(s, idx)

    fresh = spark.createDataFrame(
        [Row(vec_id=100, embedding=[float(x) for x in rng.randn(EMB_DIM)])]
    )
    assert embedding_dedup_against_index(fresh, idx).count() == 1
    # while an exact re-ingest of an admitted vector still rejects
    dup = batch.filter("vec_id = 7").selectExpr("200 AS vec_id", "embedding")
    assert embedding_dedup_against_index(dup, idx).count() == 0


def test_persistent_ivf_index_pruning_and_recall(spark, tmp_path):
    """build_index writes cid-partitioned inverted lists; a search
    probing fewer lists reads FEWER FILES (directory-level partition
    pruning — the 100 TB seek path), and probing ALL k lists reproduces
    the exact brute-force top-10 per query."""
    from pyspark.sql import functions as F

    from railgun_spark.operators.similarity import (
        IVF_K,
        _probed_vecs,
        search_index,
        build_index,
        cosine,
        to_double,
        _lit_vec,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("v")
    )
    qids = (0, 9)
    idx = str(tmp_path / "ivf")
    n = build_index(emb, idx, exclude_ids=qids)
    assert n == emb.count() - len(qids)

    # partition pruning: the probed scan carries a PartitionFilters
    # entry on cid (directory-level pruning) and plans strictly fewer
    # scan partitions than the full-index read
    two = _probed_vecs(spark, idx, [1, 2])
    plan = two._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cid" in plan
    all_parts = _probed_vecs(
        spark, idx, list(range(1, IVF_K + 1))
    ).rdd.getNumPartitions()
    assert two.rdd.getNumPartitions() < all_parts

    queries = emb.filter(F.col("vec_id").isin(list(qids))).select(
        F.col("vec_id").alias("qid"), "v"
    )
    # nprobe = k: the pruned search must equal exact brute force
    got = search_index(spark, queries, idx, nprobe=IVF_K, topk=5)
    got_rows = {(r["qid"], r["rnk"]): (r["vec_id"], r["cos_sim"])
                for r in got.collect()}
    qvecs = {int(r["qid"]): list(r["v"]) for r in queries.collect()}
    for qid, qv in qvecs.items():
        brute = (
            emb.filter(~F.col("vec_id").isin(list(qids)))
            .select("vec_id", F.round(cosine(F.col("v"), _lit_vec(qv)), 6)
                    .alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), "vec_id")
            .limit(5)
            .collect()
        )
        for i, r in enumerate(brute, start=1):
            assert got_rows[(qid, i)] == (r["vec_id"], r["cos_sim"]), (qid, i)

    # nprobe=1 returns <= topk rows per query, all from the probed list
    one = search_index(spark, queries, idx, nprobe=1, topk=5)
    per_q = one.groupBy("qid").agg(
        F.countDistinct("cid").alias("nc"), F.count("*").alias("n")
    ).collect()
    assert all(r["nc"] == 1 and r["n"] <= 5 for r in per_q)


def test_ivf_index_incremental_append(spark, tmp_path):
    """append_to_index assigns with the STORED quantizer: appended
    vectors land in their cid partitions, become searchable, and an
    identical-vector append ranks at cosine 1.0 for a matching query."""
    from pyspark.sql import functions as F

    from railgun_spark.operators.similarity import (
        IVF_K,
        search_index,
        append_to_index,
        build_index,
        to_double,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("v")
    )
    idx = str(tmp_path / "ivf")
    head = emb.filter(F.col("vec_id") < 200)
    n0 = build_index(head, idx, exclude_ids=(0,))
    assert n0 == head.count() - 1

    # append the tail; a re-labeled copy of the held-out query vector
    # rides along so the post-append search must surface it at cos 1.0
    tail = emb.filter(F.col("vec_id") >= 200)
    copy = emb.filter(F.col("vec_id") == 0).select(
        F.lit(9999).cast("long").alias("vec_id"), "label", "v"
    )
    n1 = append_to_index(tail.unionByName(copy), idx)
    assert n1 == tail.count() + 1
    assert spark.read.parquet(f"{idx}/vecs").count() == n0 + n1

    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), "v"
    )
    got = search_index(spark, queries, idx, nprobe=IVF_K, topk=3).collect()
    assert got[0]["vec_id"] == 9999 and got[0]["cos_sim"] == 1.0


def test_persistent_ivf_pq_codes_only_storage(spark, tmp_path):
    """The IVF-PQ inverted lists store codes ONLY (no raw vectors — the
    storage shrink IS the point), stay partition-pruned, and a full-probe
    ADC search ranks an exactly-encoded duplicate of an indexed vector
    at the same ADC distance as that vector."""
    from pyspark.sql import functions as F

    from railgun_spark.operators.similarity import (
        IVF_K,
        PQ_M,
        IVFSpec,
        search_index,
        build_index,
        to_double,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("v")
    )
    qids = (0, 9)
    idx = str(tmp_path / "ivfpq")
    n = build_index(emb, idx, IVFSpec(m=PQ_M), exclude_ids=qids)
    assert n == emb.count() - len(qids)

    vecs = spark.read.parquet(f"{idx}/vecs")
    assert set(vecs.columns) == {"vec_id", "label", "codes", "cid"}
    assert vecs.select(F.size("codes")).distinct().first()[0] == PQ_M

    queries = emb.filter(F.col("vec_id").isin(list(qids))).select(
        F.col("vec_id").alias("qid"), "v"
    )
    got = search_index(spark, queries, idx, pq=True, nprobe=IVF_K, topk=5)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cid" in plan
    rows = got.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["qid"], []).append(r)
    assert set(per_q) == set(qids)
    for q, rs in per_q.items():
        assert [r["rnk"] for r in sorted(rs, key=lambda r: r["rnk"])] == [1, 2, 3, 4, 5]
        # ADC ascending with the deterministic tiebreak
        ordered = sorted(rs, key=lambda r: r["rnk"])
        assert all(
            (a["adc_dist"], a["vec_id"]) <= (b["adc_dist"], b["vec_id"])
            for a, b in zip(ordered, ordered[1:])
        )


def test_stream_append_ivf_and_duplicate_safety(spark, tmp_path):
    """Continual ANN maintenance: the availableNow drain appends arriving
    embedding shards with the stored quantizer; a crash-replayed
    (double-appended) batch cannot double-fill any query's top-k
    (candidates fold before ranking), and compact_ivf_index reclaims the
    duplicate rows without changing results."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from railgun_spark.operators.similarity import (
        IVF_K,
        search_index,
        append_to_index,
        build_index,
        compact_ivf_index,
        to_double,
    )
    from railgun_spark.streaming.ingest import stream_append_ivf_availablenow

    raw = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb = raw.select("vec_id", "label", to_double(F.col("embedding")).alias("v"))
    idx = str(tmp_path / "ivf")
    n0 = build_index(emb.filter("vec_id < 100"), idx, exclude_ids=(0,))

    # two arriving shards as PLAIN part files
    src = tmp_path / "arriving"
    src.mkdir()
    for i, pred in enumerate(
        ("vec_id >= 100 AND vec_id < 300", "vec_id >= 300")
    ):
        stage = tmp_path / f"__s{i}"
        raw.filter(pred).select("vec_id", "embedding", "label").coalesce(
            1
        ).write.parquet(str(stage))
        (part,) = glob.glob(str(stage / "part-*.parquet"))
        shutil.move(part, str(src / f"shard{i}.parquet"))

    n = stream_append_ivf_availablenow(
        spark, str(src), idx, str(tmp_path / "ckpt")
    )
    assert n == raw.filter("vec_id >= 100").count()
    assert spark.read.parquet(f"{idx}/vecs").count() == n0 + n

    # crash-window replay: the last shard appends AGAIN
    dup = emb.filter("vec_id >= 300")
    append_to_index(dup, idx)
    total_rows = spark.read.parquet(f"{idx}/vecs").count()
    assert total_rows == n0 + n + dup.count()

    queries = emb.filter("vec_id = 0").select(F.col("vec_id").alias("qid"), "v")
    got = search_index(spark, queries, idx, nprobe=IVF_K, topk=10).collect()
    ids = [r["vec_id"] for r in got]
    assert len(ids) == 10 and len(set(ids)) == 10  # no double-fill

    # compaction folds the duplicates; results unchanged
    assert compact_ivf_index(spark, idx) == n0 + n
    got2 = search_index(spark, queries, idx, nprobe=IVF_K, topk=10).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in got2] == \
           [(r["vec_id"], r["cos_sim"]) for r in got]


def test_stream_append_residual_pq_index(spark, tmp_path):
    """Streamed micro-batch appends follow the index's STORED encoding:
    draining shards into a residual (IVFADC) store_raw index searches
    identically to the all-at-once residual build — the meta/ marker
    governs foreachBatch appends exactly as batch ones, so a crash-
    replayed maintenance stream can never mix encodings."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from railgun_spark.operators.similarity import (
        IVF_K,
        PQ_M,
        IVFSpec,
        search_index,
        build_index,
        to_double,
    )
    from railgun_spark.streaming.ingest import stream_append_ivf_availablenow

    raw = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb = raw.select("vec_id", "label", to_double(F.col("embedding")).alias("v"))
    idx = str(tmp_path / "ivfadc")
    build_index(
        emb.filter("vec_id < 200"), idx, IVFSpec(m=PQ_M, residual=True, store_raw=True),
        exclude_ids=(0,),
    )
    src = tmp_path / "arriving"
    src.mkdir()
    stage = tmp_path / "__s0"
    raw.filter("vec_id >= 200").select("vec_id", "embedding", "label").coalesce(
        1
    ).write.parquet(str(stage))
    (part,) = glob.glob(str(stage / "part-*.parquet"))
    shutil.move(part, str(src / "shard0.parquet"))
    n = stream_append_ivf_availablenow(
        spark, str(src), idx, str(tmp_path / "ckpt"), pq=True
    )
    assert n == raw.filter("vec_id >= 200").count()

    idx_all = str(tmp_path / "ivfadc_all")
    build_index(emb, idx_all, IVFSpec(m=PQ_M, residual=True, store_raw=True), exclude_ids=(0,))
    queries = emb.filter("vec_id = 0").select(F.col("vec_id").alias("qid"), "v")
    key = lambda rows: [(r["vec_id"], r["cos_sim"]) for r in
                        sorted(rows, key=lambda r: r["rnk"])]
    got_stream = search_index(
        spark, queries, idx, pq=True, nprobe=IVF_K, rerank=25, topk=10
    ).collect()
    got_all = search_index(
        spark, queries, idx_all, pq=True, nprobe=IVF_K, rerank=25, topk=10
    ).collect()
    assert key(got_stream) == key(got_all)


def test_ivf_append_layout_mismatch_refusal(spark, tmp_path):
    """Appends verify the target layout before writing: raw-vector rows
    into a PQ index (null codes sort FIRST under ascending ADC) and
    codes rows into a raw index both fail loudly, and the refused index
    is byte-identical afterwards (nothing was written)."""
    import glob

    import pytest
    from pyspark.sql import functions as F

    from railgun_spark.operators.similarity import (
        PQ_M,
        IVFSpec,
        append_to_index,
        build_index,
        to_double,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("v")
    )
    head, tail = emb.filter("vec_id < 200"), emb.filter("vec_id >= 200")
    raw_idx, pq_idx = str(tmp_path / "ivf"), str(tmp_path / "ivfpq")
    build_index(head, raw_idx)
    build_index(head, pq_idx, IVFSpec(m=PQ_M))

    before_pq = sorted(glob.glob(f"{pq_idx}/vecs/**/*.parquet", recursive=True))
    with pytest.raises(ValueError, match="layout mismatch"):
        append_to_index(tail, pq_idx)  # raw rows into a PQ index
    assert sorted(glob.glob(f"{pq_idx}/vecs/**/*.parquet", recursive=True)) == before_pq

    before_raw = sorted(glob.glob(f"{raw_idx}/vecs/**/*.parquet", recursive=True))
    with pytest.raises(ValueError, match="layout mismatch"):
        append_to_index(tail, raw_idx, pq=True)  # codes rows into a raw index
    assert sorted(glob.glob(f"{raw_idx}/vecs/**/*.parquet", recursive=True)) == before_raw


def test_ivf_spec_refuses_settings_that_do_nothing(spark, tmp_path):
    """residual, store_raw and rerank mean nothing for a raw-vector IVF
    spec (m = 0), nor do codebooks for its build or rerank for its
    search: each is refused instead of silently dropped."""
    import pytest

    from railgun_spark.operators.similarity import (
        PQ_M,
        IVFSpec,
        build_index,
        search_index,
    )

    for kw in ({"residual": True}, {"store_raw": True}, {"rerank": 5}):
        with pytest.raises(ValueError, match="m > 0"):
            IVFSpec(**kw)
    assert IVFSpec(m=PQ_M, residual=True, store_raw=True, rerank=5).pq
    vecs = spark.createDataFrame([(0, 1, [1.0, 0.0])], "vec_id long, label int, v array<double>")
    idx = str(tmp_path / "ivf")
    with pytest.raises(ValueError, match="codebooks"):
        build_index(vecs, idx, IVFSpec(), codebooks={0: [(1, [1.0])]})
    queries = vecs.selectExpr("vec_id AS qid", "v")
    with pytest.raises(ValueError, match="rerank"):
        search_index(spark, queries, idx, rerank=5)


def test_ivf_maintenance_lock_append_vs_compact(spark, tmp_path):
    """One maintenance writer per index: while a compactor (simulated by
    holding the lock) is mid-swap, a concurrent append fails loudly
    instead of writing into a directory about to be renamed away — and
    vice versa for a second compactor."""
    import pytest
    from pyspark.sql import functions as F

    from railgun_spark.operators.dedup import (
        _acquire_compact_lock,
        _release_compact_lock,
    )
    from railgun_spark.operators.similarity import (
        _ivf_local,
        append_to_index,
        build_index,
        compact_ivf_index,
        to_double,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("v")
    )
    idx = str(tmp_path / "ivf")
    build_index(emb.filter("vec_id < 200"), idx)

    lock, token = _acquire_compact_lock(_ivf_local(idx, "vecs"))
    try:
        with pytest.raises(RuntimeError, match="compaction already in progress"):
            append_to_index(emb.filter("vec_id >= 200"), idx)
        with pytest.raises(RuntimeError, match="compaction already in progress"):
            compact_ivf_index(spark, idx)
    finally:
        _release_compact_lock(lock, token)
    # lock released -> both proceed
    assert append_to_index(emb.filter("vec_id >= 200"), idx) > 0
    assert compact_ivf_index(spark, idx) == emb.count()


def test_ivf_compact_crash_recovery(spark, tmp_path):
    """A compactor killed between its two renames leaves vecs/ absent and
    the backup complete; the next search (and the next append/compact)
    restores it, so top-k answers are never lost."""
    import os

    from pyspark.sql import functions as F

    from railgun_spark.operators.similarity import (
        IVF_K,
        _ivf_local,
        search_index,
        build_index,
        to_double,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("v")
    )
    idx = str(tmp_path / "ivf")
    build_index(emb, idx, exclude_ids=(0,))
    queries = emb.filter("vec_id = 0").select(F.col("vec_id").alias("qid"), "v")
    want = [
        (r["vec_id"], r["cos_sim"])
        for r in search_index(spark, queries, idx, nprobe=IVF_K).collect()
    ]

    # simulate the crash window: live vecs/ renamed to backup, tmp lost
    vecs = _ivf_local(idx, "vecs")
    os.rename(vecs, vecs + ".compact_backup")
    assert not os.path.exists(vecs)

    got = [
        (r["vec_id"], r["cos_sim"])
        for r in search_index(spark, queries, idx, nprobe=IVF_K).collect()
    ]
    assert got == want
    assert os.path.exists(vecs) and not os.path.exists(vecs + ".compact_backup")


def test_ivf_pq_rerank_exact_refine(spark, tmp_path):
    """store_raw=True writes raw/ under the same cid partitioning;
    rerank=R re-scores the ADC shortlist by exact cosine — an exact
    duplicate of the query vector ranks FIRST at cos 1.0 (pure ADC
    cannot guarantee that: codes-equal vectors tie), the output schema
    is the cosine one, and rerank without raw/ fails loudly."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from railgun_spark.operators.similarity import (
        IVF_K,
        PQ_M,
        IVFSpec,
        search_index,
        build_index,
        to_double,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("v")
    )
    # plant an exact duplicate of held-out query vector 0 in the corpus
    dup = emb.filter("vec_id = 0").select(
        F.lit(9999).cast("long").alias("vec_id"), "label", "v"
    )
    idx = str(tmp_path / "ivfpq")
    build_index(emb.unionByName(dup), idx, IVFSpec(m=PQ_M, store_raw=True), exclude_ids=(0,))
    assert os.path.isdir(f"{idx}/raw")
    queries = emb.filter("vec_id = 0").select(F.col("vec_id").alias("qid"), "v")

    got = search_index(spark, queries, idx, pq=True, nprobe=IVF_K, rerank=25, topk=5)
    assert got.columns == ["qid", "vec_id", "label", "cid", "cos_sim", "rnk"]
    rows = sorted(got.collect(), key=lambda r: r["rnk"])
    assert rows[0]["vec_id"] == 9999 and rows[0]["cos_sim"] == 1.0
    # descending exact cosine throughout
    assert all(a["cos_sim"] >= b["cos_sim"] for a, b in zip(rows, rows[1:]))

    # no raw/ -> loud refusal
    idx2 = str(tmp_path / "ivfpq_noraw")
    build_index(emb, idx2, IVFSpec(m=PQ_M), exclude_ids=(0,))
    with pytest.raises(ValueError, match="store_raw"):
        search_index(spark, queries, idx2, pq=True, rerank=25).collect()


def test_ivf_pq_store_raw_append_and_compact(spark, tmp_path):
    """A store_raw index grows BOTH layouts on append (a raw/ left stale
    would silently drop every appended vector from reranked top-k), and
    compaction folds duplicates in both — reranked results unchanged,
    an appended exact duplicate still ranks first at cos 1.0."""
    from pyspark.sql import functions as F

    from railgun_spark.operators.similarity import (
        IVF_K,
        PQ_M,
        IVFSpec,
        search_index,
        append_to_index,
        build_index,
        compact_ivf_index,
        to_double,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("v")
    )
    idx = str(tmp_path / "ivfpq")
    build_index(emb.filter("vec_id < 200"), idx, IVFSpec(m=PQ_M, store_raw=True), exclude_ids=(0,))
    # append the tail + an exact duplicate of held-out query 0; append it
    # TWICE (crash-replay) so both layouts carry duplicates
    tail = emb.filter("vec_id >= 200")
    dup = emb.filter("vec_id = 0").select(
        F.lit(9999).cast("long").alias("vec_id"), "label", "v"
    )
    batch = tail.unionByName(dup)
    append_to_index(batch, idx, pq=True)
    append_to_index(batch, idx, pq=True)
    n_vecs = spark.read.parquet(f"{idx}/vecs").count()
    n_raw = spark.read.parquet(f"{idx}/raw").count()
    assert n_vecs == n_raw  # raw grew with the appends

    queries = emb.filter("vec_id = 0").select(F.col("vec_id").alias("qid"), "v")
    got = search_index(
        spark, queries, idx, pq=True, nprobe=IVF_K, rerank=25, topk=10
    ).collect()
    ids = [r["vec_id"] for r in sorted(got, key=lambda r: r["rnk"])]
    assert ids[0] == 9999 and len(set(ids)) == 10  # appended vec found, no double-fill
    assert got[0].__class__  # smoke

    expect = emb.count()  # 199 indexed + 399 appended + 1 dup-of-0 = all ids once
    assert compact_ivf_index(spark, idx) == expect
    assert spark.read.parquet(f"{idx}/raw").count() == expect  # raw folded too
    got2 = search_index(
        spark, queries, idx, pq=True, nprobe=IVF_K, rerank=25, topk=10
    ).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in sorted(got2, key=lambda r: r["rnk"])] == \
           [(r["vec_id"], r["cos_sim"]) for r in sorted(got, key=lambda r: r["rnk"])]


def test_ivf_wide_k_kernels_match_column_path(spark):
    """The Arrow BLAS kernels that assignment / probe selection /
    residuals route to past _IVF_COLUMN_PATH_MAX_K centroids produce
    exactly the Column algebra's output on the fixture data (same
    rounded-cosine argmax with lowest-cid ties, same (sim desc, cid
    asc) probe order, same exact residual subtraction) — the same
    parity discipline as assign_clusters' two forms."""
    from pyspark.sql import functions as F

    from railgun_spark.operators.similarity import (
        _assign_cid,
        _centroid_rows,
        _centroid_vec_col,
        _cos_kernel,
        _probed_queries,
        _residual_pandas,
        cosine,
        _lit_vec,
        to_double,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("v")
    )
    cents = _centroid_rows(emb, 16)

    got = emb.select(
        "vec_id",
        _assign_cid(F.col("v"), cents).alias("col_cid"),
        _cos_kernel(cents)(F.col("v")).alias("np_cid"),
    ).filter(F.col("col_cid") != F.col("np_cid"))
    assert got.count() == 0

    # probe order parity: struct-sort vs stable argsort, nprobe=4
    queries = emb.limit(8).select(F.col("vec_id").alias("qid"), "v")
    col_probes = [
        (r["qid"], r["cid"])
        for r in _probed_queries(queries, cents, 4, {"v": "v"})
        .withColumn("ord", F.monotonically_increasing_id())
        .orderBy("ord").collect()
    ]
    np_rows = queries.select(
        "qid", F.explode(_cos_kernel(cents, 4)(F.col("v"))).alias("cid")
    ).withColumn("ord", F.monotonically_increasing_id()).orderBy("ord").collect()
    assert col_probes == [(r["qid"], r["cid"]) for r in np_rows]

    # residual parity (exact doubles, both paths)
    assigned = emb.select(
        "vec_id", "v", _assign_cid(F.col("v"), cents).alias("cid")
    )
    diff = assigned.select(
        F.zip_with(
            F.zip_with(
                F.col("v"), _centroid_vec_col(cents), lambda x, y: x - y
            ),
            _residual_pandas(cents)(F.col("v"), F.col("cid")),
            lambda a, b: F.abs(a - b),
        ).alias("d")
    ).select(F.array_max("d").alias("m")).agg(F.max("m")).first()[0]
    assert diff == 0.0


def test_rerank_refine_read_is_shortlist_shaped(spark, tmp_path, monkeypatch):
    """The rerank leg's raw read is shortlist-shaped when that wins: on
    a probed volume large relative to ids x row-group bytes, the ADC
    survivors' vec_ids are pushed into the raw/ scan as parquet In
    filters (raw/ is written vec_id-sorted with page-sized row groups
    so the filter prunes at row-group granularity); on a small index
    the single plain-filter scan is kept. Both branches return the
    identical reranked top-k — pinned against an independent exact
    re-scoring of the ADC shortlist."""
    from pyspark.sql import functions as F

    import railgun_spark.operators.similarity as sim
    from railgun_spark.operators.similarity import (
        PQ_M,
        IVFSpec,
        search_index,
        build_index,
        to_double,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "label", to_double(F.col("embedding")).alias("v"))
    queries = emb.filter(F.col("vec_id").isin([0, 9])).select(
        F.col("vec_id").alias("qid"), "v"
    )
    idx = str(tmp_path / "pqraw")
    build_index(emb, idx, IVFSpec(m=PQ_M, store_raw=True), exclude_ids=(0, 9))

    # the tiny fixture index picks the single-scan branch (probed bytes
    # nowhere near ids x group bytes): the In-pushdown threshold conf is
    # left alone (the branch's observable side effect)
    spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "10")
    got = search_index(spark, queries, idx, pq=True, rerank=25, topk=5)
    rows = got.collect()
    assert spark.conf.get(
        "spark.sql.parquet.pushdown.inFilterThreshold") == "10"

    # force the prune decision and re-run: the pushed-In branch raises
    # the threshold so parquet gets OR-of-eq (row-group-prunable), and
    # must produce the IDENTICAL rows
    monkeypatch.setattr(sim, "_raw_probed_bytes",
                        lambda *a, **kw: 10 ** 12)
    pushed = search_index(spark, queries, idx, pq=True, rerank=25, topk=5)
    assert sorted(map(tuple, pushed.collect())) == sorted(map(tuple, rows))
    assert int(spark.conf.get(
        "spark.sql.parquet.pushdown.inFilterThreshold")) > 100
    # (the prune decision stays forced for the rest of the test, so the
    # >chunk-size segment below exercises the unioned pushed scans)
    assert {int(r["qid"]) for r in rows} == {0, 9}
    assert all(int(r["rnk"]) <= 5 for r in rows)
    # values unchanged: the reranked top-5 must equal an independent
    # exact-cosine re-scoring of the SAME ADC shortlist (rerank=0,
    # topk=25 IS that shortlist by construction)
    import numpy as np

    from railgun_spark.operators.similarity import _np_round6

    adc = search_index(spark, queries, idx, pq=True, topk=25).collect()
    vecs = {int(r["vec_id"]): np.array(r["v"])
            for r in emb.collect()}
    for qid in (0, 9):
        qv = vecs[qid]
        cand = [(int(r["vec_id"]), int(r["cid"])) for r in adc
                if int(r["qid"]) == qid]
        scored = sorted(
            (
                -float(_np_round6(np.array([
                    vecs[v] @ qv
                    / (np.linalg.norm(vecs[v]) * np.linalg.norm(qv))
                ]))[0]),
                v, c,
            )
            for v, c in cand
        )
        expect = [(v, c) for _, v, c in scored[:5]]
        got_q = [(int(r["vec_id"]), int(r["cid"])) for r in
                 sorted((r for r in rows if int(r["qid"]) == qid),
                        key=lambda r: int(r["rnk"]))]
        assert got_q == expect, (qid, got_q, expect)

    # a shortlist past the pushdown chunk (2 queries x rerank 200 ->
    # several hundred distinct ids) splits into unioned <=128-id scans:
    # one wide pushed In becomes a ~N-deep or(eq...) chain that parquet
    # evaluates recursively and overflows the task stack near 1000 terms
    big_df = search_index(spark, queries, idx, pq=True, rerank=200, topk=3)
    assert "Union" in big_df._jdf.queryExecution().executedPlan().toString()
    big = big_df.collect()
    assert len(big) == 6 and {int(r["qid"]) for r in big} == {0, 9}


def test_raw_probed_bytes_missing_list_is_zero_other_failures_raise(spark, tmp_path):
    """The refine read's prune-or-scan size probe: a probed list with no
    raw/cid= directory counts 0 bytes, but any other Hadoop failure (an
    unsupported scheme here) raises instead of steering the search to
    the full-scan branch."""
    from railgun_spark.operators.similarity import _raw_probed_bytes

    part = tmp_path / "idx" / "raw" / "cid=1"
    part.mkdir(parents=True)
    (part / "part-0.parquet").write_bytes(b"x" * 100)
    assert _raw_probed_bytes(spark, str(tmp_path / "idx"), [1, 2]) == 100
    with pytest.raises(Exception, match="nosuch"):
        _raw_probed_bytes(spark, "nosuch://x", [1])


def test_np_round6_half_up_and_int32_cid_validation():
    """_np_round6 rounds 1e-6 midpoints HALF UP (away from zero) like
    Spark F.round and the DuckDB oracles — np.round's half-to-even would
    produce a different VALUE there, not just a tie-break flip.
    _int32_cids refuses ids past int32 loudly: a silent numpy cast would
    truncate only on the wide-K kernel path, where truncated keys never
    match the driver-side cents dict and Lloyd training would no-op."""
    import numpy as np
    import pytest

    from railgun_spark.operators.similarity import _int32_cids, _np_round6

    mids = np.array([0.5, 1.5, 2.5, 3.5, -0.5, -2.5]) / 1e6
    assert list(_np_round6(mids)) == [1e-6, 2e-6, 3e-6, 4e-6, -1e-6, -3e-6]
    # non-midpoints agree with plain rounding
    x = np.array([0.12345649, 0.12345651, -1.9999996])
    assert list(_np_round6(x)) == [0.123456, 0.123457, -2.0]

    assert list(_int32_cids([1, 2**31 - 1])) == [1, 2**31 - 1]
    with pytest.raises(ValueError, match="int32"):
        _int32_cids([1, 2**31])


def test_sampled_quantizer_training_parity(spark):
    """Bounded-sample Lloyd training (the FAISS max(256*k, 1e5) recipe):
    the deterministic vec_id-hash sample is stable across partitionings
    and ~target-sized; a NON-binding bound trains identically to the
    full corpus (the auto default must not change any existing build);
    a binding bound trains a quantizer / codebooks whose quantization
    error on the FULL corpus stays within tolerance of full-corpus
    training."""
    import numpy as np
    from pyspark.sql import functions as F

    from railgun_spark.operators.similarity import (
        _pq_geometry,
        _training_sample,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    n = 3000
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(17 + i) for i in range(16)]).alias("v"),
    ).localCheckpoint()

    # the sample is deterministic (same ids regardless of partitioning)
    # and close to the target size
    s1 = sorted(r["vec_id"] for r in
                _training_sample(emb, 600).select("vec_id").collect())
    s2 = sorted(r["vec_id"] for r in
                _training_sample(emb.repartition(7), 600)
                .select("vec_id").collect())
    assert s1 == s2
    assert 400 <= len(s1) <= 800

    # non-binding bound (auto default at this scale): identical result
    full = train_ivf_centroids(emb, k=8, iters=2, sample=None)
    auto = train_ivf_centroids(emb, k=8, iters=2)  # auto = 100k > n
    assert full == auto

    # binding bound: quantization error on the FULL corpus within
    # tolerance of full-corpus training
    X = np.array([r["v"] for r in emb.orderBy("vec_id").collect()])

    def centroid_mse(cents):
        C = np.array([cv for _, cv in cents])
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        return d.min(axis=1).mean()

    sampled = train_ivf_centroids(emb, k=8, iters=2, sample=600)
    assert centroid_mse(sampled) <= 1.25 * centroid_mse(full)

    # PQ codebooks: same discipline, error measured per-subspace encode
    def pq_mse(books):
        ms, ds, _ = _pq_geometry(books)
        tot = 0.0
        for i, m in enumerate(ms):
            sub = X[:, m * ds:(m + 1) * ds]
            B = np.array([cv for _, cv in books[m]])
            d = ((sub[:, None, :] - B[None, :, :]) ** 2).sum(-1)
            tot += d.min(axis=1).mean()
        return tot

    books_full = train_pq_codebooks(emb, m=4, ks=8, iters=2, sample=None)
    books_auto = train_pq_codebooks(emb, m=4, ks=8, iters=2)
    assert books_full == books_auto
    books_sampled = train_pq_codebooks(emb, m=4, ks=8, iters=2, sample=600)
    assert pq_mse(books_sampled) <= 1.25 * pq_mse(books_full)


def test_ivf_pq_residual_encoding(spark, tmp_path):
    """The IVFADC (residual) form: the encoding choice round-trips via
    meta/, appends encode with the STORED frame (build A then append B
    searches identically to building A+B at once), the ADC scores differ
    from the raw form's (the modes are really different), and rerank
    still returns the exact brute-force top-k — the refine leg is
    encoding-agnostic because raw/ stores original vectors."""
    from pyspark.sql import functions as F

    from railgun_spark.operators.similarity import (
        IVF_K,
        PQ_M,
        IVFSpec,
        _ivf_pq_encoding,
        _lit_vec,
        search_index,
        append_to_index,
        build_index,
        cosine,
        to_double,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("v")
    )
    queries = emb.filter("vec_id = 0").select(F.col("vec_id").alias("qid"), "v")

    idx_all = str(tmp_path / "res_all")
    build_index(emb, idx_all, IVFSpec(m=PQ_M, residual=True, store_raw=True), exclude_ids=(0,))
    assert _ivf_pq_encoding(spark, idx_all) == "residual"

    # append-consistency: A = the low ids (so first-K centroids and
    # codebooks match the all-at-once build), B appended after
    idx_ab = str(tmp_path / "res_ab")
    build_index(
        emb.filter("vec_id < 200"), idx_ab, IVFSpec(m=PQ_M, residual=True, store_raw=True),
        exclude_ids=(0,),
    )
    append_to_index(emb.filter("vec_id >= 200"), idx_ab, pq=True)
    got_all = search_index(
        spark, queries, idx_all, pq=True, nprobe=IVF_K, topk=10
    ).collect()
    got_ab = search_index(spark, queries, idx_ab, pq=True, nprobe=IVF_K, topk=10).collect()
    key = lambda rows: [(r["vec_id"], r["adc_dist"]) for r in
                        sorted(rows, key=lambda r: r["rnk"])]
    assert key(got_all) == key(got_ab)

    # the residual ADC frame really differs from the raw one
    idx_raw = str(tmp_path / "raw_form")
    build_index(emb, idx_raw, IVFSpec(m=PQ_M), exclude_ids=(0,))
    assert _ivf_pq_encoding(spark, idx_raw) == "raw"
    got_raw = search_index(
        spark, queries, idx_raw, pq=True, nprobe=IVF_K, topk=10
    ).collect()
    assert {r["adc_dist"] for r in got_raw} != {r["adc_dist"] for r in got_all}

    # rerank over the full probe set = exact brute-force top-k
    qv = [float(x) for x in queries.first()["v"]]
    exact = (
        emb.filter("vec_id != 0")
        .select("vec_id", F.round(cosine(F.col("v"), _lit_vec(qv)), 6).alias("c"))
        .orderBy(F.desc("c"), "vec_id").limit(10).collect()
    )
    got_rr = search_index(
        spark, queries, idx_all, pq=True, nprobe=IVF_K, rerank=500, topk=10
    ).collect()
    assert [r["vec_id"] for r in sorted(got_rr, key=lambda r: r["rnk"])] == \
           [r["vec_id"] for r in exact]


def test_window_dup_frac_hot_hash_and_self_repeats(spark):
    """Skew-hardening behavior proof (r18): a window shared by EVERY doc
    (the 100 TB boilerplate hot key) and a doc that repeats one window
    many times intra-doc must both come out exactly right, and the plan
    must show the two-stage shape — partial (map-side) aggregation on
    (h, doc_id) BEFORE the first exchange, so raw occurrence rows never
    cross the wire and a hot h spreads across doc_ids."""
    from railgun_spark.operators.dedup import DUP_WINDOW_K, window_dup_frac_frame

    k = DUP_WINDOW_K
    boiler = " ".join(f"b{i}" for i in range(k))  # one shared k-window
    docs = []
    # 6 docs: boilerplate + unique tail -> the boilerplate windows (the
    # k windows fully inside the 2k-word prefix made of boiler+unique
    # overlap) are NOT all shared; only the pure-boiler window is.
    for d in range(6):
        uniq = " ".join(f"d{d}u{i}" for i in range(k))
        docs.append((d, boiler + " " + uniq))
    # doc 6: the SAME window repeated 50x back-to-back — every k-window
    # of this doc is some rotation of b0..b{k-1}; the pure-boiler
    # rotation occurs 50 times intra-doc (the map-side-combine case)
    docs.append((6, " ".join([boiler] * 50)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r["doc_id"]: r for r in window_dup_frac_frame(df).collect()}

    # reference computation in plain Python
    import hashlib

    def windows(text):
        ws = text.split()
        return [" ".join(ws[i:i + k]) for i in range(len(ws) - k + 1)]

    wins = {d: windows(t) for d, t in docs}
    docs_per_win = {}
    for d, wl in wins.items():
        for w in set(wl):
            docs_per_win.setdefault(w, set()).add(d)
    for d, wl in wins.items():
        n = len(wl)
        ndup = sum(1 for w in wl if len(docs_per_win[w]) >= 2)
        assert rows[d]["n_windows"] == n, d
        assert rows[d]["n_dup_windows"] == ndup, d
        assert abs(rows[d]["dup_frac"] - round(ndup / n, 4)) < 1e-9, d

    # plan shape: partial aggregate on (h, doc_id) below the exchange
    plan = window_dup_frac_frame(df)._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan, plan
    import re
    m = re.search(r"Exchange hashpartitioning\(h#\d+L, doc_id#\d+L", plan)
    assert m, plan


def test_ivf_pq_missing_meta_is_rejected_as_incomplete(spark, tmp_path):
    """meta/ is the build's commit marker (written after all overlapped
    artifact writes join): an index missing it must be rejected loudly,
    not silently read as 'raw' — a crash mid-build could otherwise leave
    a residual-coded index that search LUTs against the wrong frame."""
    import shutil

    import pytest as _pytest
    from pyspark.sql import functions as F

    from railgun_spark.operators.similarity import (
        PQ_M,
        IVFSpec,
        _ivf_pq_encoding,
        build_index,
        to_double,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("v")
    )
    idx = str(tmp_path / "pq_idx")
    build_index(emb.filter("vec_id < 200"), idx, IVFSpec(m=PQ_M, residual=True))
    assert _ivf_pq_encoding(spark, idx) == "residual"
    shutil.rmtree(f"{idx}/meta")  # simulate a crash before commit
    with _pytest.raises(ValueError, match="commit marker"):
        _ivf_pq_encoding(spark, idx)


# Digest per index directory of the sorted rows (and schema) an IVF /
# IVF-PQ build writes over the sf0.001 embeddings; raw/ also pins each
# file's row order (vec_id-sorted) and row-group count.
_GOLDEN_IVF = {
    "ivf_k8": {"centroids": "1dcfec9949f33b4e", "vecs": "6170fa176a7fb797"},
    "pq_4x4": {
        "centroids": "1dcfec9949f33b4e", "codebooks": "a728ed3838b4e59b",
        "meta": "f991b71fe53f11c0", "vecs": "5052fc41811be6eb",
    },
    "pq_residual": {
        "centroids": "1dcfec9949f33b4e", "codebooks": "b6525ca68fcdb3c0",
        "meta": "23a0799c2f3e508f", "vecs": "18948bcb4119eec7",
    },
    "pq_store_raw": {
        "centroids": "1dcfec9949f33b4e", "codebooks": "a728ed3838b4e59b",
        "meta": "f991b71fe53f11c0", "raw": "8f7bb6a9080f811b",
        "vecs": "5052fc41811be6eb",
    },
    "pq_wide_8x64": {
        "centroids": "1dcfec9949f33b4e", "codebooks": "602a309d978fa761",
        "meta": "f991b71fe53f11c0", "vecs": "b136523e7a0a9bbe",
    },
    "ivf_k72": {"centroids": "9c9cb910183b439a", "vecs": "0b7e1cf1d1ad064a"},
}


def _golden_ivf_build(emb, idx, case):
    from railgun_spark.operators.similarity import PQ_M, IVFSpec, build_index

    spec = {
        "ivf_k8": IVFSpec(),
        "ivf_k72": IVFSpec(k=72),
        "pq_4x4": IVFSpec(m=PQ_M),
        "pq_residual": IVFSpec(m=PQ_M, residual=True),
        "pq_store_raw": IVFSpec(m=PQ_M, store_raw=True),
        "pq_wide_8x64": IVFSpec(m=8, ks=64),
    }[case]
    return build_index(emb, idx, spec, exclude_ids=(0,))


def _dir_digest(spark, path):
    import glob
    import hashlib
    import os

    import pyarrow.parquet as pq

    df = spark.read.parquet(path)
    rows = sorted(
        repr(tuple(tuple(v) if isinstance(v, list) else v for v in r))
        for r in df.collect()
    )
    lines = [df.schema.simpleString(), *rows]
    if os.path.basename(path) == "raw":
        for f in sorted(glob.glob(f"{path}/cid=*/*.parquet")):
            meta = pq.ParquetFile(f).metadata
            ids = pq.read_table(f, columns=["vec_id"]).column(0).to_pylist()
            assert ids == sorted(ids), f
            cid = os.path.basename(os.path.dirname(f))
            lines.append(f"{cid} {meta.num_rows} {meta.num_row_groups}")
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


@pytest.mark.parametrize("case", list(_GOLDEN_IVF))
def test_ivf_index_rows_golden(spark, tmp_path, sf_dir, case):
    """Every IVF / IVF-PQ index layout writes exactly the recorded rows:
    raw IVF at K=8 and at K=72 (past the Column assignment cap), PQ 4x4,
    residual PQ, PQ with the raw refine store, and PQ 8x64 (the Arrow
    encode path)."""
    import os

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("v")
    )
    idx = str(tmp_path / "idx")
    assert _golden_ivf_build(emb, idx, case) == 499
    got = {d: _dir_digest(spark, f"{idx}/{d}") for d in sorted(os.listdir(idx))}
    assert got == _GOLDEN_IVF[case]
