"""Structured Streaming: file-source readStream with watermarked windows,
and custom stateful operators (applyInPandasWithState). Streams run with
trigger(availableNow=True) into memory sinks and are compared against the
equivalent batch plans — same logical semantics, micro-batch execution.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from railgun_spark.sources.tables import load_events
from railgun_spark.streaming.stateful import running_user_totals, streaming_dedup_first_seen
from railgun_spark.streaming.windows import stream_windowed_counts, windowed_counts


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Re-land events as micro-precision parquet shards (a stream source
    needs a directory it can list; the nanos timestamps are normalized by
    load_events first)."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    load_events(spark, sf_dir).repartition(4).write.mode("overwrite").parquet(out)
    return out


def _run_available_now(sdf, name: str):
    q = sdf.writeStream.format("memory").queryName(name).outputMode("update").trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)
    return q


def test_stream_windowed_counts_matches_batch(spark, events_dir):
    batch_df = spark.read.parquet(events_dir)
    expected = {
        (r["win_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in windowed_counts(batch_df, "1 hour").collect()
    }

    sdf = stream_windowed_counts(spark, events_dir, batch_df.schema, window="1 hour")
    q = sdf.writeStream.format("memory").queryName("win_counts").outputMode(
        "complete"
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = {
        (r["win_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got == expected and len(got) > 0


def test_running_user_totals_state(spark, events_dir):
    batch_df = spark.read.parquet(events_dir)
    expected = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in batch_df.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .collect()
    }

    stream = spark.readStream.schema(batch_df.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(events_dir)
    _run_available_now(running_user_totals(stream), "running_totals")
    # multiple micro-batches emit successive updates; the last row per user
    # is the final running total
    rows = spark.sql("SELECT * FROM running_totals").collect()
    final = {}
    for r in rows:  # memory sink appends update-mode emissions in order
        final[r["user_id"]] = (r["n_events"], round(r["total_value"], 2))
    assert final == {u: (n, round(t, 2)) for u, (n, t) in expected.items()}
    # state crossed batch boundaries: more emissions than users
    assert len(rows) > len(final)


def test_streaming_dedup_first_seen(spark, events_dir):
    batch_df = spark.read.parquet(events_dir).withColumn(
        "content_hash", F.xxhash64("event_type")  # tiny hash domain -> many dups
    )
    expected = (
        batch_df.groupBy("user_id", "content_hash")
        .agg(F.min("event_id").alias("event_id"))
        .count()
    )

    stream = (
        spark.readStream.schema(spark.read.parquet(events_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
        .withColumn("content_hash", F.xxhash64("event_type"))  # derived on-stream
    )
    q = streaming_dedup_first_seen(stream).writeStream.format("memory").queryName(
        "dedup_stream"
    ).outputMode("append").trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM dedup_stream").collect()
    assert len(got) == expected
    # every (user, hash) appears exactly once
    assert len({(r["user_id"], r["content_hash"]) for r in got}) == len(got)


def test_stream_session_window_matches_batch(spark, events_dir):
    from railgun_spark.streaming.windows import SESSION_WINDOW_GAP_MIN

    batch_df = spark.read.parquet(events_dir)
    gap = f"{SESSION_WINDOW_GAP_MIN} minutes"

    def sessions(df):
        return (
            df.groupBy("user_id", F.session_window("ts", gap).alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id", F.col("w.start").alias("session_start"), "n_events")
        )

    expected = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in sessions(batch_df).collect()
    }

    stream = (
        spark.readStream.schema(batch_df.schema)
        .parquet(events_dir)
        .withWatermark("ts", "10 days")
    )
    q = (
        sessions(stream)
        .writeStream.format("memory")
        .queryName("sess_win")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.sql("SELECT * FROM sess_win").collect()
    }
    assert got == expected and len(got) > 100


def test_stream_decontaminate_matches_batch(spark, tmp_path):
    """foreachBatch stream-static decontamination flags exactly the docs the
    batch operator flags (each doc is self-contained, so per-batch join
    semantics are complete — no streaming state needed)."""
    from railgun_spark.operators.dedup import decontaminate_ngram_overlap
    from railgun_spark.streaming.decontam import stream_decontaminate_availablenow

    import shutil

    sf_dir = "/root/testdata/sf0.001"
    batch_ids = sorted(
        r["doc_id"] for r in decontaminate_ngram_overlap(spark, sf_dir).collect()
    )
    src = tmp_path / "arriving"
    src.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", src / "shard-0.parquet")
    flagged = stream_decontaminate_availablenow(
        spark, sf_dir, str(src), str(tmp_path / "ckpt"), str(tmp_path / "flags")
    )
    stream_ids = sorted(r["doc_id"] for r in flagged.collect())
    assert stream_ids == batch_ids and len(batch_ids) > 0

    # crash-replay idempotence: a replayed batch (same batch id, same
    # content — what a checkpoint resume delivers) OVERWRITES its own
    # partition, leaving one copy of every flag
    from railgun_spark.operators.dedup import (
        EVAL_MOD,
        pooled_contamination,
        shingle_pool,
        shingle_sets,
    )

    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = shingle_pool(shingle_sets(static.filter(F.col("doc_id") % EVAL_MOD == 0)))
    batch_df = spark.read.parquet(str(src / "shard-0.parquet"))
    tr = shingle_sets(batch_df.filter(F.col("doc_id") % EVAL_MOD != 0), "doc_id")
    pooled_contamination(tr, ev).select("doc_id").write.mode("overwrite").parquet(
        str(tmp_path / "flags" / "ingest_batch=0")
    )
    replay = spark.read.option("basePath", str(tmp_path / "flags")).parquet(
        str(tmp_path / "flags")
    )
    assert sorted(r["doc_id"] for r in replay.collect()) == batch_ids

    # a FRESH checkpoint may batch differently and strand old partitions
    # as phantom flags — that combination must refuse loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="phantom flags"):
        stream_decontaminate_availablenow(
            spark, sf_dir, str(src), str(tmp_path / "ckpt2"), str(tmp_path / "flags")
        )

    # fresh checkpoint + fresh sink: same flag set, no interference
    rerun = stream_decontaminate_availablenow(
        spark, sf_dir, str(src), str(tmp_path / "ckpt3"), str(tmp_path / "flags2")
    )
    assert sorted(r["doc_id"] for r in rerun.collect()) == batch_ids


# ------------------- streaming ingest through the dedup gate -------------------
def test_stream_ingest_dedup_matches_batch_content_set(spark, tmp_path):
    """Shards streamed one-per-micro-batch admit exactly one copy of each
    distinct text — the same CONTENT set a single batch pass admits (which
    copy survives depends on arrival order; content equality is the
    invariant)."""
    from pyspark.sql import Row

    from railgun_spark.streaming.ingest import stream_ingest_dedup_availablenow

    src = tmp_path / "arriving"
    src.mkdir()
    shard1 = [Row(doc_id=1, text="alpha beta"), Row(doc_id=2, text="gamma delta"),
              Row(doc_id=3, text="alpha beta")]
    shard2 = [Row(doc_id=10, text="alpha beta"), Row(doc_id=11, text="epsilon zeta"),
              Row(doc_id=12, text="gamma delta")]
    df1 = spark.createDataFrame(shard1)
    # land each shard as a flat part-file (the file source lists, not recurses)
    import shutil

    for i, rows in enumerate([shard1, shard2]):
        stage = tmp_path / f"stage{i}"
        spark.createDataFrame(rows).coalesce(1).write.parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        shutil.move(str(part), str(src / f"shard{i}.parquet"))

    admitted = stream_ingest_dedup_availablenow(
        spark,
        str(src),
        df1.schema,
        index_path=str(tmp_path / "idx"),
        sink_path=str(tmp_path / "corpus"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    sink = spark.read.parquet(str(tmp_path / "corpus"))
    texts = sorted(r["text"] for r in sink.collect())
    assert texts == ["alpha beta", "epsilon zeta", "gamma delta"]
    assert admitted == 3
    # streaming batches land in ingest_batch=<id> partitions (the replay-
    # idempotent overwrite target); partition discovery surfaces the column
    assert sorted(sink.columns) == ["doc_id", "ingest_batch", "text"]
    # restart with the same index: everything is now a duplicate
    admitted2 = stream_ingest_dedup_availablenow(
        spark,
        str(src),
        df1.schema,
        index_path=str(tmp_path / "idx"),
        sink_path=str(tmp_path / "corpus2"),
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    assert admitted2 == 0


def test_stream_ingest_embeddings_gate(spark, tmp_path):
    """Embedding shards streamed one-per-micro-batch admit exactly one
    vector per sign-LSH near-dup class; a restart against the same index
    admits nothing (exactly-once per class across the stream's lifetime)."""
    import shutil

    from pyspark.sql import Row

    from railgun_spark.operators.similarity import EMB_DIM
    from railgun_spark.streaming.ingest import stream_ingest_embeddings_availablenow

    v1 = [1.0 if d % 3 else -1.0 for d in range(EMB_DIM)]
    v2 = [-x for x in v1]  # disjoint bands from v1 (complement signs)
    src = tmp_path / "arriving"
    src.mkdir()
    shard1 = [Row(vec_id=1, embedding=v1), Row(vec_id=2, embedding=v1)]
    shard2 = [Row(vec_id=10, embedding=v2), Row(vec_id=11, embedding=v1)]
    df1 = spark.createDataFrame(shard1)
    for i, rows in enumerate([shard1, shard2]):
        stage = tmp_path / f"stage{i}"
        spark.createDataFrame(rows).coalesce(1).write.parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        shutil.move(str(part), str(src / f"shard{i}.parquet"))

    admitted = stream_ingest_embeddings_availablenow(
        spark,
        str(src),
        df1.schema,
        index_path=str(tmp_path / "bands"),
        sink_path=str(tmp_path / "vecs"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert admitted == 2  # one per near-dup class (v1-class, v2-class)
    sink = spark.read.parquet(str(tmp_path / "vecs"))
    assert sorted(r["vec_id"] for r in sink.collect()) == [1, 10]

    admitted2 = stream_ingest_embeddings_availablenow(
        spark,
        str(src),
        df1.schema,
        index_path=str(tmp_path / "bands"),
        sink_path=str(tmp_path / "vecs2"),
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    assert admitted2 == 0


# ------------------- stream-stream interval join -------------------
def test_stream_interval_join_matches_batch(spark, sf_dir, events_dir):
    from railgun_spark.sources.tables import load_events
    from railgun_spark.streaming.joins import (
        _split_events,
        correlate_actions,
        stream_correlated_actions,
    )

    ev = load_events(spark, sf_dir)
    batch = correlate_actions(*_split_events(ev))
    streamed = stream_correlated_actions(spark, events_dir, ev.schema)
    key = ["user_id", "click_id", "purchase_id", "lag_sec"]
    b = sorted(tuple(r[k] for k in key) for r in batch.collect())
    s = sorted(tuple(r[k] for k in key) for r in streamed.collect())
    assert b == s and len(b) > 0


def test_ingest_replay_windows_are_idempotent(spark, tmp_path):
    """Simulate the two foreachBatch crash-replay windows directly:
    (a) crash BETWEEN sink write and index append -> replay re-admits and
    OVERWRITES the same partition (no duplicate sink rows);
    (b) crash AFTER index append -> replay's empty batch skips the write,
    leaving the already-written partition intact (no data loss)."""
    from pyspark.sql import Row

    from railgun_spark.operators.dedup import dedup_against_index
    from railgun_spark.streaming.ingest import _write_sink, ingest_batch

    batch = spark.createDataFrame(
        [Row(doc_id=1, text="one two"), Row(doc_id=2, text="three four")]
    )
    idx, sink = str(tmp_path / "idx"), str(tmp_path / "corpus")

    # (a) sink written, index append lost: write the partition as the
    # crashed attempt would have, WITHOUT touching the index
    survivors = dedup_against_index(batch, idx).drop("__h")
    _write_sink(survivors, sink, batch_id=7)
    assert spark.read.parquet(sink).count() == 2
    # replay of batch 7: index still empty -> re-admits, overwrites same partition
    assert ingest_batch(batch, idx, sink, batch_id=7) == 2
    assert spark.read.parquet(sink).count() == 2  # not 4

    # (b) index committed, checkpoint lost: replay re-gates to empty and
    # must NOT clobber the partition with an empty overwrite
    assert ingest_batch(batch, idx, sink, batch_id=7) == 0
    assert spark.read.parquet(sink).count() == 2


def test_backfill_and_stream_share_one_sink_layout(spark, tmp_path):
    """A sink fed by BOTH a streaming run and a batch backfill must keep one
    uniform ingest_batch=<id> partition layout and stay readable as a single
    table — backfills land under the reserved ingest_batch=-1 partition
    (files at the sink root next to partition dirs would make
    spark.read.parquet reject the whole sink)."""
    import shutil

    from pyspark.sql import Row

    from railgun_spark.streaming.ingest import (
        ingest_batch,
        stream_ingest_dedup_availablenow,
    )

    src = tmp_path / "arriving"
    src.mkdir()
    shard = [Row(doc_id=1, text="alpha beta"), Row(doc_id=2, text="gamma delta")]
    df = spark.createDataFrame(shard)
    stage = tmp_path / "stage"
    df.coalesce(1).write.parquet(str(stage))
    shutil.move(str(next(stage.glob("part-*.parquet"))), str(src / "shard.parquet"))

    idx, sink = str(tmp_path / "idx"), str(tmp_path / "corpus")
    admitted = stream_ingest_dedup_availablenow(
        spark, str(src), df.schema, index_path=idx, sink_path=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert admitted == 2
    # batch backfill into the SAME sink and index (one dup, one new doc)
    backfill = spark.createDataFrame(
        [Row(doc_id=100, text="epsilon zeta"), Row(doc_id=101, text="alpha beta")]
    )
    assert ingest_batch(backfill, idx, sink, batch_id=None) == 1

    merged = spark.read.parquet(sink)  # one layout: reads without error
    rows = {r["text"]: r["ingest_batch"] for r in merged.collect()}
    assert sorted(rows) == ["alpha beta", "epsilon zeta", "gamma delta"]
    assert rows["epsilon zeta"] == -1  # backfill partition
    assert all(b >= 0 for t, b in rows.items() if t != "epsilon zeta")


def test_backfill_refuses_legacy_root_file_sink(spark, tmp_path):
    """A sink with part-files at its root (the pre-partitioned backfill
    layout) must be refused, not silently corrupted into a mixed layout."""
    import pytest as _pytest
    from pyspark.sql import Row

    from railgun_spark.streaming.ingest import ingest_batch

    sink = tmp_path / "legacy"
    spark.createDataFrame([Row(doc_id=1, text="old row")]).coalesce(1).write.parquet(
        str(sink)
    )
    with _pytest.raises(ValueError, match="legacy"):
        ingest_batch(
            spark.createDataFrame([Row(doc_id=2, text="new row")]),
            str(tmp_path / "idx"),
            str(sink),
            batch_id=None,
        )


def test_stream_neardup_decontaminate_matches_batch(spark, tmp_path):
    """The streaming per-eval-doc attribution must produce exactly the
    batch operator's (doc_id, eval_doc_id, jaccard) set — per-batch
    best-match equals global best-match because the eval side is static
    and every doc lives in one micro-batch. Also: fresh-checkpoint-over-
    used-sink refusal and the empty-source empty-frame path."""
    import shutil

    import pytest as _pytest

    from railgun_spark.operators.dedup import decontaminate_neardup_eval
    from railgun_spark.streaming.decontam import (
        stream_neardup_decontaminate_availablenow,
    )

    sf_dir = "/root/testdata/sf0.001"
    batch = sorted(
        (r["doc_id"], r["eval_doc_id"], r["jaccard"])
        for r in decontaminate_neardup_eval(spark, sf_dir).collect()
    )
    assert len(batch) > 0
    src = tmp_path / "arriving"
    src.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", src / "shard-0.parquet")
    flagged = stream_neardup_decontaminate_availablenow(
        spark, sf_dir, str(src), str(tmp_path / "ckpt"), str(tmp_path / "flags")
    )
    got = sorted(
        (r["doc_id"], r["eval_doc_id"], r["jaccard"]) for r in flagged.collect()
    )
    assert got == batch

    with _pytest.raises(ValueError, match="phantom flags"):
        stream_neardup_decontaminate_availablenow(
            spark, sf_dir, str(src), str(tmp_path / "ckpt2"), str(tmp_path / "flags")
        )

    empty_src = tmp_path / "empty"
    empty_src.mkdir()
    empty = stream_neardup_decontaminate_availablenow(
        spark, sf_dir, str(empty_src), str(tmp_path / "ckpt3"), str(tmp_path / "flags3")
    )
    assert empty.count() == 0


def test_ingest_batch_span_gate(spark, tmp_path):
    """With a span index, exact-dedup survivors that are mostly assembled
    from spans already in history (different content hash, so invisible
    to the exact gate) are rejected; their hashes commit to NEITHER
    index, so a retry re-judges them identically."""
    from railgun_spark.streaming.ingest import ingest_batch

    idx = str(tmp_path / "idx")
    span_idx = str(tmp_path / "span_idx")
    sink = str(tmp_path / "sink")
    span = " ".join(f"s{i}" for i in range(20))
    w1 = spark.createDataFrame(
        [(1, f"{span} original tail")], "doc_id: long, text: string"
    )
    assert ingest_batch(w1, idx, sink, span_index_path=span_idx) == 1

    w2 = spark.createDataFrame(
        [
            (10, f"{span} different tail"),  # new hash, old span: reject
            (11, " ".join(f"n{i}" for i in range(20))),  # fresh: admit
        ],
        "doc_id: long, text: string",
    )
    assert ingest_batch(w2, idx, sink, span_index_path=span_idx) == 1
    admitted = {r["doc_id"] for r in spark.read.parquet(sink).collect()}
    assert admitted == {1, 11}
    # the rejected doc committed nothing: an identical retry is rejected
    # again (not admitted via a stale hash entry)
    w3 = spark.createDataFrame(
        [(20, f"{span} different tail")], "doc_id: long, text: string"
    )
    assert ingest_batch(w3, idx, sink, span_index_path=span_idx) == 0


def test_stream_ingest_span_gate_and_replay_window(spark, tmp_path):
    """Streaming drain with the span gate rejects a span-copy shard; and
    the crash window BETWEEN content-hash append and window-hash append
    degrades to lost span COVERAGE only — replay admits nothing, the
    sink keeps exactly one copy of everything."""
    from pyspark.sql import Row

    from railgun_spark.streaming.ingest import (
        ingest_batch,
        stream_ingest_dedup_availablenow,
    )

    span = " ".join(f"q{i}" for i in range(20))
    src = tmp_path / "arriving"
    src.mkdir()

    def ship(name: str, rows) -> None:
        # the file stream source lists plain files (no recursion): write
        # via Spark, then move the single part file in as the shard
        import glob
        import shutil

        tmp = tmp_path / f"__{name}"
        spark.createDataFrame(rows).coalesce(1).write.parquet(str(tmp))
        (part,) = glob.glob(str(tmp / "part-*.parquet"))
        shutil.move(part, str(src / name))

    ship("s0.parquet", [Row(doc_id=1, text=f"{span} original")])
    ship("s1.parquet", [Row(doc_id=2, text=f"{span} rehash tail")])  # new hash, old span
    schema = spark.read.parquet(str(src / "s0.parquet")).schema
    idx, span_idx, sink = (
        str(tmp_path / "i"),
        str(tmp_path / "si"),
        str(tmp_path / "c"),
    )
    admitted = stream_ingest_dedup_availablenow(
        spark, str(src), schema, idx, sink, str(tmp_path / "ck"),
        span_index_path=span_idx,
    )
    # one file per trigger, ordered: the original is admitted first, the
    # span-copy shard is then rejected against history
    assert admitted == 1
    assert spark.read.parquet(sink).count() == 1

    # crash window: content hashes committed, window hashes lost -> the
    # replayed batch admits nothing and must not clobber the sink
    batch = spark.read.parquet(str(src / "s0.parquet"))
    assert ingest_batch(batch, idx, sink, batch_id=0, span_index_path=span_idx) == 0
    assert spark.read.parquet(sink).count() == 1


def _soak_shards(n_shards: int):
    """Deterministic shard stream with engineered duplicate structure:
    per shard, 2 fresh 24-word docs + 1 fresh 9-word periodic doc, and
    (from shard 2 on) one exact copy, one span composite (two 16-word
    halves of earlier docs: 14/23 windows seen = 0.61 >= 0.5), and one
    MinHash rotation of the previous short doc (identical 3-gram shingle
    set -> guaranteed band hit; < 10 words -> no span windows, so only
    the band gate can reject it). Returns (shards, fresh_texts)."""
    def long_doc(i: int, j: int) -> str:
        return " ".join(f"w{i}x{j}x{k}" for k in range(24))

    def short_doc(i: int) -> str:
        return " ".join([f"ma{i}", f"mb{i}", f"mc{i}"] * 3)

    shards, fresh = [], []
    next_id = 0
    for i in range(n_shards):
        rows = []

        def add(text: str) -> None:
            nonlocal next_id
            rows.append((next_id, text))
            next_id += 1

        la, lb, s = long_doc(i, 0), long_doc(i, 1), short_doc(i)
        for t in (la, lb, s):
            add(t)
            fresh.append(t)
        if i >= 2:
            add(long_doc(i - 1, 0))  # exact dup
            a = long_doc(i - 2, 0).split()
            b = long_doc(i - 1, 1).split()
            add(" ".join(a[:16] + b[8:]))  # span composite
            w = short_doc(i - 1).split()
            add(" ".join(w[1:] + w[:1]))  # minhash rotation
        shards.append(rows)
    return shards, fresh


@pytest.mark.slow
def test_stream_ingest_soak_four_gates(spark, tmp_path):
    """Ingest soak (slow, ~2 min): 24 availableNow micro-batches through
    the content + span + MinHash-band gate chain with two injected
    crash/replay windows at batch boundaries 8 (sink written, indexes
    lost) and 16 (indexes committed, checkpoint lost). The admitted
    content set must equal the batch-backfill ground truth (the same
    shards through direct ingest_batch calls on fresh indexes), and
    per-batch wall times must not grow with index size."""
    import glob
    import os
    import shutil
    import time

    from railgun_spark.operators.dedup import dedup_against_index
    from railgun_spark.streaming.ingest import (
        _drain_availablenow,
        _write_sink,
        ingest_batch,
    )

    n_shards = 24
    shards, fresh = _soak_shards(n_shards)
    src = tmp_path / "arriving"
    src.mkdir()
    schema = "doc_id: long, text: string"

    def ship(k: int) -> None:
        stage = tmp_path / f"__s{k}"
        spark.createDataFrame(shards[k], schema).coalesce(1).write.parquet(
            str(stage)
        )
        (part,) = glob.glob(str(stage / "part-*.parquet"))
        dest = src / f"shard{k:02d}.parquet"
        shutil.move(part, str(dest))
        # pin listing order = shard order (the file source sorts by mtime)
        os.utime(dest, (1_700_000_000 + k, 1_700_000_000 + k))

    idx = str(tmp_path / "idx")
    span_idx = str(tmp_path / "span_idx")
    mh_idx = str(tmp_path / "mh_idx")
    sink = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    walls: list[float] = []

    def gate(batch_df, batch_id):
        t0 = time.time()
        n = ingest_batch(
            batch_df, idx, sink, batch_id=batch_id,
            span_index_path=span_idx, minhash_index_path=mh_idx,
        )
        walls.append(time.time() - t0)
        return n

    def drain():
        return _drain_availablenow(
            spark, str(src), spark.createDataFrame([], schema).schema,
            ckpt, 1, gate,
        )

    admitted = 0
    for k in range(8):
        ship(k)
    admitted += drain()  # batches 0..7

    # CRASH WINDOW 1 at boundary 8: the crashed attempt wrote shard 8's
    # survivors to partition ingest_batch=8 but died before ANY index
    # append. The stream's replay of batch 8 must re-admit and overwrite
    # the same partition — no duplicate sink rows.
    ship(8)
    batch8 = spark.read.parquet(str(src / "shard08.parquet"))
    crashed = dedup_against_index(batch8, idx).drop("__h")
    _write_sink(crashed, sink, batch_id=8)
    for k in range(9, 16):
        ship(k)
    admitted += drain()  # batches 8..15 (8 is a replay)

    # CRASH WINDOW 2 at boundary 16: the crashed attempt completed the
    # sink write AND all three index appends but lost the checkpoint.
    # The stream's replay re-gates to empty and must skip the write,
    # leaving the already-written partition intact.
    ship(16)
    batch16 = spark.read.parquet(str(src / "shard16.parquet"))
    n16 = ingest_batch(
        batch16, idx, sink, batch_id=16,
        span_index_path=span_idx, minhash_index_path=mh_idx,
    )
    assert n16 == 3
    for k in range(17, n_shards):
        ship(k)
    admitted += drain()  # batches 16..23 (16 is a replay that admits 0)

    assert len(walls) == n_shards
    got = sorted(r["text"] for r in spark.read.parquet(sink).collect())
    assert got == sorted(fresh)  # exactly one copy of every fresh doc
    # window-2's replay admitted 0 through the stream, so the streamed
    # count is fresh-total minus the 3 the crashed attempt committed
    assert admitted == len(fresh) - 3

    # batch-backfill ground truth: same shards, direct ingest_batch
    b_idx, b_span, b_mh = (str(tmp_path / p) for p in ("bi", "bs", "bm"))
    b_sink = str(tmp_path / "b_corpus")
    for k in range(n_shards):
        ingest_batch(
            spark.createDataFrame(shards[k], schema), b_idx, b_sink,
            batch_id=None, span_index_path=b_span, minhash_index_path=b_mh,
        )
    backfill = sorted(r["text"] for r in spark.read.parquet(b_sink).collect())
    assert got == backfill

    # no growth with index size: the last third must stay within 3x the
    # first third (loose: absolute walls are scheduler-noise-dominated
    # at this scale; real growth would be monotone and larger)
    print("SOAK_WALLS " + " ".join(f"{w:.2f}" for w in walls))
    first = sum(walls[:8]) / 8
    last = sum(walls[-8:]) / 8
    assert last <= 3 * first, (first, last, walls)


@pytest.mark.slow
def test_stream_ingest_soak_embedding_gate(spark, tmp_path):
    """Embedding-gate soak (the fourth ingest gate): 12 availableNow
    micro-batches of vector shards with engineered exact-repeat
    conflicts and one injected crash/replay window at batch boundary 6
    (sink partition written, band commit lost -> replay re-admits and
    overwrites). Admitted vector set must equal the batch-backfill
    ground truth through ingest_embeddings_batch on a fresh index."""
    import glob
    import os
    import shutil

    from railgun_spark.operators.similarity import (
        EMB_DIM,
        embedding_dedup_against_index,
    )
    from railgun_spark.streaming.ingest import (
        _write_sink,
        ingest_embeddings_batch,
        stream_ingest_embeddings_availablenow,
    )

    def vec(vid: int) -> list:
        return [1.0 if (vid * 7 + d * 13) % 5 < 2 else -1.0
                for d in range(EMB_DIM)]

    n_shards = 12
    shards = []
    next_id = 0
    for i in range(n_shards):
        rows = []
        for _ in range(3):  # fresh sign patterns
            rows.append((next_id, vec(next_id)))
            next_id += 1
        if i >= 1:  # exact copy of the previous shard's first vector
            prev = shards[i - 1][0]
            rows.append((next_id, list(prev[1])))
            next_id += 1
        shards.append(rows)

    schema = "vec_id: long, embedding: array<float>"
    src = tmp_path / "arriving"
    src.mkdir()

    def ship(k: int) -> None:
        stage = tmp_path / f"__e{k}"
        spark.createDataFrame(shards[k], schema).coalesce(1).write.parquet(
            str(stage)
        )
        (part,) = glob.glob(str(stage / "part-*.parquet"))
        dest = src / f"shard{k:02d}.parquet"
        shutil.move(part, str(dest))
        os.utime(dest, (1_700_000_000 + k, 1_700_000_000 + k))

    idx, sink, ckpt = (str(tmp_path / p) for p in ("bands", "vecs", "ck"))
    sdf_schema = spark.createDataFrame([], schema).schema

    def drain():
        return stream_ingest_embeddings_availablenow(
            spark, str(src), sdf_schema,
            index_path=idx, sink_path=sink, checkpoint_dir=ckpt,
        )

    for k in range(6):
        ship(k)
    admitted = drain()  # batches 0..5

    # crash window at boundary 6: survivors written, band commit lost
    ship(6)
    batch6 = spark.read.parquet(str(src / "shard06.parquet"))
    crashed = embedding_dedup_against_index(batch6, idx, dim=EMB_DIM)
    _write_sink(crashed, sink, batch_id=6)
    for k in range(7, n_shards):
        ship(k)
    admitted += drain()  # batches 6..11 (6 is a replay)

    got = sorted(r["vec_id"] for r in spark.read.parquet(sink).collect())
    assert admitted == len(got)  # replay re-admitted, no duplicates

    # batch-backfill ground truth on a fresh index
    b_idx, b_sink = str(tmp_path / "b_bands"), str(tmp_path / "b_vecs")
    for k in range(n_shards):
        ingest_embeddings_batch(
            spark.createDataFrame(shards[k], schema), b_idx, b_sink,
            batch_id=None, dim=EMB_DIM,
        )
    want = sorted(r["vec_id"] for r in spark.read.parquet(b_sink).collect())
    assert got == want


def test_stream_ingest_refuses_nested_shard_dirs(spark, sf_dir, tmp_path):
    """A source dir holding parquet only inside shard DIRECTORIES would
    silently drain zero batches — the scaffold must refuse loudly, for
    the ingest gates and the two decontamination drivers alike."""
    import pytest as _pytest

    from pyspark.sql import Row

    from railgun_spark.streaming.decontam import (
        stream_decontaminate_availablenow,
        stream_neardup_decontaminate_availablenow,
    )
    from railgun_spark.streaming.ingest import stream_ingest_dedup_availablenow

    src = tmp_path / "arr"
    src.mkdir()
    spark.createDataFrame([Row(doc_id=1, text="x")]).coalesce(1).write.parquet(
        str(src / "shard0.parquet")
    )
    schema = spark.read.parquet(str(src / "shard0.parquet")).schema
    with _pytest.raises(ValueError, match="does not recurse"):
        stream_ingest_dedup_availablenow(
            spark, str(src), schema, str(tmp_path / "i"), str(tmp_path / "c"),
            str(tmp_path / "ck"),
        )
    for i, drive in enumerate(
        (stream_decontaminate_availablenow, stream_neardup_decontaminate_availablenow)
    ):
        with _pytest.raises(ValueError, match="does not recurse"):
            drive(spark, sf_dir, str(src), str(tmp_path / f"dck{i}"),
                  str(tmp_path / f"flags{i}"))


def test_stream_media_features_restart_idempotent(spark, tmp_path):
    """Streaming media decode twin: two file batches (WAV + MP3 payloads)
    drain through availableNow with a RESTART between them; the sink
    matches the batch decode of the same rows exactly and re-running over
    the processed checkpoint emits nothing new."""
    import struct

    import numpy as np

    from railgun_spark.operators.mp3_encode import encode_mp3_tone
    from railgun_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        extract_features,
    )
    from railgun_spark.streaming.media import stream_media_features_availablenow

    def wav_blob(freq):
        s = np.round(9000 * np.sin(2 * np.pi * freq * np.arange(300) / 8000)
                     ).astype("<i2").tobytes()
        return (b"RIFF" + struct.pack("<I", 36 + len(s)) + b"WAVE"
                + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
                + b"data" + struct.pack("<I", len(s)) + s)

    rows1 = [(1, "audio", bytearray(wav_blob(440)), {}),
             (2, "audio", bytearray(encode_mp3_tone(5, 4, 11, 2)), {})]
    rows2 = [(3, "audio", bytearray(wav_blob(220)), {}),
             (4, "audio", bytearray(encode_mp3_tone(9, 2, 13, 4)), {})]

    media_dir = str(tmp_path / "media")
    sink = str(tmp_path / "feats")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(rows1, MEDIA_SCHEMA).coalesce(1).write.mode(
        "append").parquet(media_dir)

    got1 = stream_media_features_availablenow(
        spark, media_dir, sink, ckpt, decoder=decode_media, require_real=True
    )
    assert sorted(r["media_id"] for r in got1.collect()) == [1, 2]

    # restart: second batch of files, same checkpoint — only new files
    spark.createDataFrame(rows2, MEDIA_SCHEMA).coalesce(1).write.mode(
        "append").parquet(media_dir)
    got2 = stream_media_features_availablenow(
        spark, media_dir, sink, ckpt, decoder=decode_media, require_real=True
    )
    rows = got2.collect()
    assert sorted(r["media_id"] for r in rows) == [1, 2, 3, 4]

    # feature parity with the batch decode of the same rows
    batch = {
        r["media_id"]: r["feature"]
        for r in extract_features(
            spark.createDataFrame(rows1 + rows2, MEDIA_SCHEMA),
            decoder=decode_media, require_real=True,
        ).collect()
    }
    for r in rows:
        assert np.allclose(r["feature"], batch[r["media_id"]], atol=1e-6), r["media_id"]

    # a third drain with no new files emits nothing
    got3 = stream_media_features_availablenow(
        spark, media_dir, sink, ckpt, decoder=decode_media, require_real=True
    )
    assert got3.count() == 4


def test_stream_media_decode_status_full_codec_matrix(spark, tmp_path):
    """Streaming twin over the WHOLE 22-class crafted corpus (animated
    GIF89a and MJPEG-AVI included): two file batches drain with a restart
    between them, the streamed per-row statuses equal the batch
    media_decode_status of the same rows, and every class lands on its
    MEDIA_CRAFT_CLASSES expected reason — refusal classes stream as
    recorded rows, not exceptions."""
    from railgun_spark.operators.multimodal import (
        MEDIA_CRAFT_CLASSES,
        MEDIA_SCHEMA,
        _craft_media_stream,
        media_decode_status,
    )
    from railgun_spark.streaming.media import (
        stream_media_decode_status_availablenow,
    )

    n_cls = len(MEDIA_CRAFT_CLASSES)
    assert n_cls == 22
    # doc_id 7*i -> class i; the second copy (7*(i+n_cls)) re-exercises
    # each class with different doc_id-derived parameters
    all_rows = []
    for i in range(2 * n_cls):
        d = 7 * i
        kind, blob = _craft_media_stream(d)
        all_rows.append((d, kind, bytearray(blob), {}))
    rows1, rows2 = all_rows[:n_cls], all_rows[n_cls:]

    media_dir = str(tmp_path / "media")
    sink = str(tmp_path / "status")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(rows1, MEDIA_SCHEMA).coalesce(1).write.mode(
        "append").parquet(media_dir)
    got1 = stream_media_decode_status_availablenow(spark, media_dir, sink, ckpt)
    assert got1.count() == n_cls

    # restart over the second half of the corpus, same checkpoint
    spark.createDataFrame(rows2, MEDIA_SCHEMA).coalesce(1).write.mode(
        "append").parquet(media_dir)
    streamed = {
        r["media_id"]: (r["kind"], r["reason"])
        for r in stream_media_decode_status_availablenow(
            spark, media_dir, sink, ckpt
        ).collect()
    }
    assert len(streamed) == 2 * n_cls

    # per-row twin equality with the batch pass over the same rows
    batch = {
        r["media_id"]: (r["kind"], r["reason"])
        for r in media_decode_status(
            spark.createDataFrame(all_rows, MEDIA_SCHEMA)
        ).collect()
    }
    assert streamed == batch

    # and every class classifies as the craft table predicts — pinning
    # GIF89a animation (12), MJPEG-AVI (20), and the AVI refusal (21)
    # through the STREAMING path
    for i in range(2 * n_cls):
        want = MEDIA_CRAFT_CLASSES[i % n_cls]
        assert streamed[7 * i] == want, (i, streamed[7 * i], want)

    # a third drain with no new files emits nothing new
    again = stream_media_decode_status_availablenow(spark, media_dir, sink, ckpt)
    assert again.count() == 2 * n_cls
