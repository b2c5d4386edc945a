"""CLI command surface: process / convert / eval / functions / formats.

Runs in-process through railgun_spark.cli.main (the spark fixture's session
is reused by session.get_spark), asserting both outputs and exit codes —
including the reference's bool-expression exit-code convention
(railgun/cli/eval.go:173-186).
"""

from __future__ import annotations

import json
import os

import pytest

from railgun_spark.cli import main


@pytest.fixture()
def geodata(tmp_path):
    rows = [
        {"id": 1, "amenity": "bar", "name": "Alpha"},
        {"id": 2, "amenity": "cafe", "name": "Beta"},
        {"id": 3, "amenity": "bar", "name": "Gamma"},
    ]
    p = tmp_path / "pois.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows))
    return p


def test_process_stdout(spark, geodata, capsys):
    rc = main(
        [
            "process",
            "--input-uri",
            str(geodata),
            "--dfl",
            "filter(@, '@amenity == bar') | map(@, '@name')",
        ]
    )
    assert rc == 0
    out = [json.loads(line) for line in capsys.readouterr().out.strip().splitlines()]
    # scalar map projects to the single `value` column
    assert sorted(r["value"] for r in out) == ["Alpha", "Gamma"]


def test_process_write_and_convert(spark, geodata, tmp_path, capsys):
    out_dir = tmp_path / "out.csv"
    rc = main(
        [
            "process",
            "--input-uri",
            str(geodata),
            "--dfl",
            "filter(@, '@amenity == bar')",
            "--output-uri",
            str(out_dir),
        ]
    )
    assert rc == 0
    conv = tmp_path / "conv.jsonl"
    assert main(["convert", "--input-uri", str(out_dir), "--output-uri", str(conv)]) == 0
    rows = [
        json.loads(line)
        for f in conv.glob("part-*.json*")
        if not f.name.endswith(".crc")
        for line in f.read_text().splitlines()
        if line.strip()
    ]
    assert sorted(int(r["id"]) for r in rows) == [1, 3]


def test_eval_bool_exit_codes(spark, capsys):
    rc = main(["eval", "--dfl", "@a > 1", "--context", '{"a": 5}'])
    assert rc == 0
    assert json.loads(capsys.readouterr().out) in (True, {"result": True})
    rc = main(["eval", "--dfl", "@a > 10", "--context", '{"a": 5}'])
    assert rc == 1


def test_eval_projection(spark, capsys):
    rc = main(
        ["eval", "--dfl", "{name: lower(@name), n: len(@name)}", "--context", '{"name": "Bar"}']
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert out == {"name": "bar", "n": 3}


def test_functions_and_formats(capsys):
    assert main(["functions"]) == 0
    names = {f["name"] for f in json.loads(capsys.readouterr().out)}
    assert {"tileX", "hist", "len"} <= names
    assert main(["formats"]) == 0
    assert "jsonl" in json.loads(capsys.readouterr().out)


@pytest.mark.slow
def test_prepare_subcommand(spark, capsys, tmp_path):
    rc = main(
        [
            "prepare",
            "--input-dir", "/root/testdata/sf0.001",
            "--output-dir", str(tmp_path / "prep"),
            "--max-tokens", "512",
            "--records-per-shard", "100",
            "--buckets", "8",
        ]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out)
    assert summary["n_covered_docs"] == summary["n_train_docs"] > 0
    assert (tmp_path / "prep" / "manifest.jsonl").exists()


def test_ingest_subcommand(spark, capsys, tmp_path):
    from pyspark.sql import Row

    b1 = tmp_path / "b1"
    spark.createDataFrame(
        [Row(doc_id=1, text="one two"), Row(doc_id=2, text="three four"),
         Row(doc_id=3, text="one two")]
    ).write.parquet(str(b1))
    idx, sink = str(tmp_path / "idx"), str(tmp_path / "corpus")
    rc = main(["ingest", "--input-dir", str(b1), "--index", idx, "--sink", sink])
    assert rc == 0
    assert json.loads(capsys.readouterr().out) == {"admitted": 2}

    # second batch: everything already seen
    b2 = tmp_path / "b2"
    spark.createDataFrame([Row(doc_id=9, text="three four")]).write.parquet(str(b2))
    rc = main(["ingest", "--input-dir", str(b2), "--index", idx, "--sink", sink])
    assert rc == 0
    assert json.loads(capsys.readouterr().out) == {"admitted": 0}
    assert spark.read.parquet(sink).count() == 2


def test_ingest_image_modality(spark, capsys, tmp_path):
    """--modality image gates MEDIA_SCHEMA shards through the
    perceptual-hash band index: near-dup images reject, restarts admit
    nothing new."""
    from railgun_spark.operators.multimodal import MEDIA_SCHEMA
    from railgun_spark.operators.phash import _phash_pgm, _phash_target

    h = _phash_target(3, 0)
    b1 = tmp_path / "m1"
    rows = [(1, "image", bytearray(_phash_pgm(h)), {}),
            (2, "image", bytearray(_phash_pgm(h ^ 1)), {}),  # near-dup of 1
            (3, "image", bytearray(_phash_pgm(_phash_target(9, 3))), {})]
    spark.createDataFrame(rows, MEDIA_SCHEMA).write.parquet(str(b1))
    idx, sink = str(tmp_path / "pidx"), str(tmp_path / "imgs")
    rc = main(["ingest", "--modality", "image", "--id-col", "media_id",
               "--input-dir", str(b1), "--index", idx, "--sink", sink])
    assert rc == 0
    assert json.loads(capsys.readouterr().out) == {"admitted": 2}

    # second batch: a near-dup of an admitted image
    b2 = tmp_path / "m2"
    spark.createDataFrame(
        [(9, "image", bytearray(_phash_pgm(h ^ 2)), {})], MEDIA_SCHEMA
    ).write.parquet(str(b2))
    rc = main(["ingest", "--modality", "image", "--id-col", "media_id",
               "--input-dir", str(b2), "--index", idx, "--sink", sink])
    assert rc == 0
    assert json.loads(capsys.readouterr().out) == {"admitted": 0}

    # usage guards: span/bucketed gating is text-only
    assert main(["ingest", "--modality", "image", "--input-dir", str(b1),
                 "--index", idx, "--sink", sink, "--span-index", "x"]) == 2

    # audio modality routes to the fingerprint gate
    from railgun_spark.operators.phash import _phash_wav

    b3 = tmp_path / "a1"
    spark.createDataFrame(
        [(1, "audio", bytearray(_phash_wav(_phash_target(5, 0))), {}),
         (2, "audio", bytearray(_phash_wav(_phash_target(5, 0) ^ 1)), {})],
        MEDIA_SCHEMA,
    ).write.parquet(str(b3))
    rc = main(["ingest", "--modality", "audio", "--id-col", "media_id",
               "--input-dir", str(b3), "--index", str(tmp_path / "aidx"),
               "--sink", str(tmp_path / "clips")])
    assert rc == 0
    assert json.loads(capsys.readouterr().out) == {"admitted": 1}


def test_stats_subcommand(spark, capsys):
    rc = main(
        [
            "stats",
            "--input-dir", "/root/testdata/sf0.001",
            "--sections", "source_quality,token_length_histogram",
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert set(out) == {"source_quality", "token_length_histogram"}
    assert all(r["n_docs"] >= r["dup_docs"] >= 0 for r in out["source_quality"])
    hist = out["token_length_histogram"]
    assert hist == sorted(hist, key=lambda r: r["bucket_lo"])
    assert abs(hist[-1]["cum_share"] - 1.0) < 1e-9

    # unknown section is a usage error, not a crash
    assert main(["stats", "--input-dir", "/root/testdata/sf0.001",
                 "--sections", "nope"]) == 2

    # round-7 sections: blocker-recall counter, vocab curve, LM outliers
    rc = main(["stats", "--input-dir", "/root/testdata/sf0.001",
               "--sections", "containment_recall,vocab_coverage,unigram_outliers"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    (cr,) = out["containment_recall"]
    assert cr["n_docs"] > 0 and cr["n_docs_no_rare_shingles"] >= 0
    curve = out["vocab_coverage"]
    assert [r["top_k"] for r in curve] == sorted(r["top_k"] for r in curve)
    assert all(0.0 < r["coverage"] <= 1.0 for r in curve)
    outliers = out["unigram_outliers"]
    assert len(outliers) == 25 and all(r["nll"] > 0 for r in outliers)

    # LSH false-negative canary (exact-join ground truth)
    rc = main(["stats", "--input-dir", "/root/testdata/sf0.001",
               "--sections", "lsh_recall"])
    assert rc == 0
    (lr,) = json.loads(capsys.readouterr().out)["lsh_recall"]
    assert lr["n_exact_pairs"] == lr["n_lsh_pairs"] + lr["n_missed"]
    assert 0.0 <= lr["recall"] <= 1.0

    # round-11: decode coverage by refusal reason (synthetic MP3 corpus)
    rc = main(["stats", "--input-dir", "/root/testdata/sf0.001",
               "--sections", "mp3_refusal_coverage"])
    assert rc == 0
    cov = json.loads(capsys.readouterr().out)["mp3_refusal_coverage"]
    from railgun_spark.operators.mp3 import MP3_REFUSAL_REASONS

    valid = set(MP3_REFUSAL_REASONS) | {"decoded"}
    assert cov and all(r["reason"] in valid for r in cov)
    by_source = {}
    for r in cov:
        assert r["n_streams"] > 0 and 0 <= r["permille"] <= 1000
        by_source.setdefault(r["source"], []).append(r["permille"])
    # permille shares per source sum to ~1000 (floor rounding loses <1
    # per reason row)
    for src, shares in by_source.items():
        assert 1000 - len(shares) < sum(shares) <= 1000, src

    # round-11: whole-codec-matrix coverage section
    rc = main(["stats", "--input-dir", "/root/testdata/sf0.001",
               "--sections", "media_refusal_coverage"])
    assert rc == 0
    mcov = json.loads(capsys.readouterr().out)["media_refusal_coverage"]
    assert mcov and {r["kind"] for r in mcov} <= {"image", "audio", "video"}
    assert any(r["reason"] == "decoded" for r in mcov)
    assert all(r["n_streams"] > 0 and 0 <= r["permille"] <= 1000 for r in mcov)


def test_ingest_bucketed_table_mode(spark, capsys, tmp_path):
    from pyspark.sql import Row

    from railgun_spark.operators.dedup import append_to_index, bucketize_index, dedup_against_index

    # seed a parquet index with one batch, migrate it to a bucketed table
    idx = str(tmp_path / "idx")
    seed = spark.createDataFrame([Row(doc_id=1, text="one two")])
    append_to_index(dedup_against_index(seed, idx), idx)
    table = "cli_fp_bucketed_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        bucketize_index(spark, idx, table, n_buckets=4)

        b = tmp_path / "arrivals"
        spark.createDataFrame(
            [Row(doc_id=9, text="one two"), Row(doc_id=10, text="three four")]
        ).write.parquet(str(b))
        rc = main(["ingest", "--input-dir", str(b), "--sink", str(tmp_path / "corpus"),
                   "--bucketed-table", table])
        assert rc == 0
        assert json.loads(capsys.readouterr().out) == {"admitted": 1}
        assert [r["doc_id"] for r in spark.read.parquet(str(tmp_path / "corpus")).collect()] == [10]

        # missing both index args is a usage error
        assert main(["ingest", "--input-dir", str(b), "--sink", str(tmp_path / "c2")]) == 2
        # streaming + bucketed table is rejected
        assert main(["ingest", "--input-dir", str(b), "--sink", str(tmp_path / "c3"),
                     "--bucketed-table", table, "--stream"]) == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_dynamic_sink_with_passphrase_raises(spark, tmp_path):
    """A dynamic partitioned sink cannot honor .enc whole-payload
    encryption; asking for both must raise, never write cleartext."""
    import pytest as _pytest

    from railgun_spark.plans.process import process_uri

    src = tmp_path / "in.jsonl"
    src.write_text('{"grp": "a", "v": 1}\n{"grp": "b", "v": 2}')
    with _pytest.raises(ValueError, match="dynamic output URI"):
        process_uri(
            spark, str(src), expr=None,
            output_uri=f"'{tmp_path}/out/' + @grp",
            output_format="jsonl", output_passphrase="pw", output_salt="a1b2",
        )


@pytest.mark.slow
def test_dedup_subcommand_jaccard_survivors(spark, capsys, tmp_path):
    """`dedup --method jaccard --survivors` writes pairs + survivors
    parquet; every doc is either a survivor or clustered under one, and
    the summary counts agree with the written tables."""
    out = tmp_path / "dd"
    rc = main(
        [
            "dedup",
            "--input-dir", "/root/testdata/sf0.001",
            "--output-dir", str(out),
            "--method", "jaccard",
            "--survivors",
        ]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["method"] == "jaccard" and summary["tau"] == "4/5"
    pairs = spark.read.parquet(str(out / "pairs"))
    assert pairs.count() == summary["n_pairs"]
    assert set(pairs.columns) == {"doc_a", "doc_b", "jaccard"}
    surv = spark.read.parquet(str(out / "survivors"))
    assert surv.count() == summary["n_survivors"]
    # survivors <= docs, and each pair removes at most one doc
    assert summary["n_survivors"] <= summary["n_docs"]
    assert summary["n_survivors"] >= summary["n_docs"] - summary["n_pairs"]


def test_dedup_subcommand_containment(spark, capsys, tmp_path):
    out = tmp_path / "dc"
    rc = main(
        [
            "dedup",
            "--input-dir", "/root/testdata/sf0.001",
            "--output-dir", str(out),
            "--method", "containment",
            "--survivors",
        ]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    pairs = spark.read.parquet(str(out / "pairs"))
    assert set(pairs.columns) == {"doc_contained", "doc_container", "containment"}
    n_contained = pairs.select("doc_contained").distinct().count()
    assert summary["n_survivors"] == summary["n_docs"] - n_contained


def test_decontam_subcommand(spark, capsys, tmp_path):
    """Both modes flag a planted leak between a train corpus and a
    separate eval corpus; an unrelated doc stays clean."""
    leak = " ".join(f"leak{i}" for i in range(25))
    train = spark.createDataFrame(
        [(1, leak + " extra tail"), (2, "totally unrelated content " * 5)],
        "doc_id: long, text: string",
    )
    ev = spark.createDataFrame([(900, leak)], "doc_id: long, text: string")
    tdir, edir = tmp_path / "t", tmp_path / "e"
    train.coalesce(1).write.parquet(str(tdir / "documents.parquet"))
    ev.coalesce(1).write.parquet(str(edir / "documents.parquet"))

    rc = main([
        "decontam", "--input-dir", str(tdir), "--eval-dir", str(edir),
        "--output-dir", str(tmp_path / "f1"), "--mode", "pooled",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    flagged = spark.read.parquet(str(tmp_path / "f1"))
    assert out["n_flagged"] == 1
    assert [r["doc_id"] for r in flagged.collect()] == [1]

    rc = main([
        "decontam", "--input-dir", str(tdir), "--eval-dir", str(edir),
        "--output-dir", str(tmp_path / "f2"), "--mode", "neardup",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    rows = spark.read.parquet(str(tmp_path / "f2")).collect()
    assert out["n_flagged"] == 1
    assert rows[0]["doc_id"] == 1 and rows[0]["eval_doc_id"] == 900


def test_client_subcommand_live_server(spark, tmp_path, capsys, monkeypatch):
    """`railgun_spark client` drives a LIVE server over real HTTP
    (reference railgun/cli/client.go): authenticate, then round-trip a
    workspace + datastore + layer through add/get/list/update/delete,
    exec a service, and fail cleanly (rc 1, no traceback) on 401/404."""
    import threading

    pytest.importorskip("flask")
    from werkzeug.serving import make_server

    from railgun_spark.catalog.models import DataStore, Process, Service
    from railgun_spark.catalog.registry import Catalog
    from railgun_spark.server import create_app

    data = tmp_path / "d.jsonl"
    data.write_text(json.dumps({"a": 1}))
    cat = Catalog(spark)
    cat.add(DataStore(name="d", uri=str(data), format="jsonl"))
    cat.add(Process(name="p", expression="filter(@, '@a == 1')"))
    cat.add(Service(name="s", process="p", datastore="d"))

    srv = make_server("127.0.0.1", 0, create_app(cat, root_password="hunter2"))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{srv.server_port}"

        # unauthenticated mutation -> rc 1, error on stderr, no traceback
        rc = main(["client", "--server", url, "workspaces", "add",
                   "--json", '{"name": "w1"}'])
        err = capsys.readouterr().err
        assert rc == 1 and "authorization" in err.lower()

        assert main(["client", "--server", url, "authenticate",
                     "--username", "root", "--password", "hunter2"]) == 0
        token = json.loads(capsys.readouterr().out)["token"]
        monkeypatch.setenv("RAILGUN_JWT_TOKEN", token)  # flag-free mutations

        # workspace + datastore + layer round-trip
        assert main(["client", "--server", url, "workspaces", "add",
                     "--json", '{"name": "w1", "title": "first"}']) == 0
        assert main(["client", "--server", url, "datastores", "add", "--json",
                     json.dumps({"name": "d2", "uri": str(data),
                                 "format": "jsonl", "workspace": "w1"})]) == 0
        assert main(["client", "--server", url, "layers", "add", "--json",
                     '{"name": "l1", "datastore": "d2"}']) == 0
        capsys.readouterr()

        assert main(["client", "--server", url, "workspaces", "get",
                     "--name", "w1"]) == 0
        assert json.loads(capsys.readouterr().out)["title"] == "first"

        assert main(["client", "--server", url, "layers", "list"]) == 0
        assert {o["name"] for o in json.loads(capsys.readouterr().out)} == {"l1"}

        assert main(["client", "--server", url, "workspaces", "update",
                     "--name", "w1", "--json", '{"title": "second"}']) == 0
        assert main(["client", "--server", url, "workspaces", "get",
                     "--name", "w1"]) == 0
        assert json.loads(capsys.readouterr().out.splitlines()[-1])["title"] == "second"

        # exec a service through the client (bearer-gated compute)
        assert main(["client", "--server", url, "services", "exec",
                     "--name", "s"]) == 0
        assert json.loads(capsys.readouterr().out) == [{"a": 1}]

        # delete respects dependency ordering: layer, datastore, workspace
        for coll, name in (("layers", "l1"), ("datastores", "d2"),
                           ("workspaces", "w1")):
            assert main(["client", "--server", url, coll, "delete",
                         "--name", name]) == 0
        capsys.readouterr()
        assert main(["client", "--server", url, "workspaces", "get",
                     "--name", "w1"]) == 1  # gone -> 404 -> rc 1

        # @file payload form
        pf = tmp_path / "w.json"
        pf.write_text('{"name": "w9"}')
        assert main(["client", "--server", url, "workspaces", "add",
                     "--json", f"@{pf}"]) == 0

        # unreachable server -> rc 1 with a diagnostic, not a traceback
        rc = main(["client", "--server", "http://127.0.0.1:1", "workspaces", "list"])
        assert rc == 1 and "cannot reach" in capsys.readouterr().err
    finally:
        srv.shutdown()


def test_client_exec_refuses_non_executable_collections():
    """Only services/jobs/workflows expose exec; the client refuses the
    rest locally instead of minting a 404 round-trip."""
    import pytest as _pytest

    from railgun_spark.client import EXECUTABLE, RailgunClient

    c = RailgunClient(server="http://127.0.0.1:1")
    assert set(EXECUTABLE) == {"services", "jobs", "workflows"}
    with _pytest.raises(ValueError, match="cannot be executed"):
        c.exec("workspaces", "w")


def test_tokenize_subcommand(spark, capsys, tmp_path):
    """tokenize trains merges, writes the token parquet and the merges
    JSON; a second run loading the saved merges reproduces the output
    exactly (deterministic round-trip through the file format)."""
    out1, out2 = str(tmp_path / "tok1"), str(tmp_path / "tok2")
    merges_f = str(tmp_path / "merges.json")
    rc = main(["tokenize", "--input-dir", "/root/testdata/sf0.001",
               "--output-dir", out1, "--n-merges", "6",
               "--save-merges", merges_f])
    assert rc == 0
    s1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s1["n_merges"] == 6 and s1["n_docs"] > 0 and s1["total_tokens"] > 0
    assert len(json.load(open(merges_f))) == 6

    rc = main(["tokenize", "--input-dir", "/root/testdata/sf0.001",
               "--output-dir", out2, "--merges-file", merges_f])
    assert rc == 0
    s2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s2 == s1
    a = {r["doc_id"]: r["tokens"] for r in spark.read.parquet(out1).collect()}
    b = {r["doc_id"]: r["tokens"] for r in spark.read.parquet(out2).collect()}
    assert a == b

    # malformed merges file is a usage error, not a stack trace
    bad = tmp_path / "bad.json"
    bad.write_text('[["a","b","c"]]')
    assert main(["tokenize", "--input-dir", "/root/testdata/sf0.001",
                 "--output-dir", str(tmp_path / "t3"),
                 "--merges-file", str(bad)]) == 2


def test_stats_embedding_lsh_recall_section(spark, capsys, tmp_path):
    """The embedding sign-LSH recall canary is a stats section; corpora
    without embeddings.parquet still get the full default report."""
    rc = main(["stats", "--input-dir", "/root/testdata/sf0.001",
               "--sections", "embedding_lsh_recall"])
    assert rc == 0
    (row,) = json.loads(capsys.readouterr().out)["embedding_lsh_recall"]
    assert row["n_exact_pairs"] == row["n_lsh_pairs"] + row["n_missed"]

    # a docs-only dir: default sections run, embedding section skipped
    import shutil
    docs_only = tmp_path / "docs_only"
    docs_only.mkdir()
    shutil.copy("/root/testdata/sf0.001/documents.parquet",
                docs_only / "documents.parquet")
    rc = main(["stats", "--input-dir", str(docs_only),
               "--sections", "source_quality"])
    assert rc == 0
    capsys.readouterr()
    rc = main(["stats", "--input-dir", str(docs_only)])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert "embedding_lsh_recall" not in out and "source_quality" in out


def test_media_features_subcommand(spark, capsys, tmp_path):
    """media-features decodes a mixed media parquet (PNG image + FLAC
    audio + MJPEG-AVI video) through the real codecs end-to-end."""
    import struct
    import sys as _sys

    import numpy as np

    _sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from test_flac import encode_flac
    from test_io_catalog import _png_bytes

    from railgun_spark.operators.jpeg import encode_gray_jpeg

    rng = np.random.RandomState(67)
    png = _png_bytes(rng.randint(0, 256, size=(6, 5, 3), dtype=np.uint8))
    t = np.arange(500)
    flac = encode_flac([[int(v) for v in
                         np.round(9000 * np.sin(2 * np.pi * 300 * t / 8000))]])

    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    jpgs = [encode_gray_jpeg(rng.randint(0, 256, size=(8, 8), dtype=np.uint8))
            for _ in range(2)]
    avih = struct.pack("<IIIIIIIIII", 40000, 0, 0, 0, 2, 0, 1, 0, 8, 8)
    body = (b"AVI " + chunk(b"LIST", b"hdrl" + chunk(b"avih", avih))
            + chunk(b"LIST", b"movi" + b"".join(chunk(b"00dc", j) for j in jpgs)))
    avi = b"RIFF" + struct.pack("<I", len(body)) + body

    src = str(tmp_path / "media")
    spark.createDataFrame(
        [(1, "image", bytearray(png)), (2, "audio", bytearray(flac)),
         (3, "video", bytearray(avi))],
        "media_id: long, kind: string, content: binary",
    ).write.parquet(src)

    out = str(tmp_path / "feats")
    rc = main(["media-features", "--input", src, "--output", out])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary == {"n_media": 3, "by_kind": {"image": 1, "audio": 1, "video": 1}}
    rows = {r["media_id"]: r for r in spark.read.parquet(out).collect()}
    assert rows[1]["width"] == 5 and rows[1]["height"] == 6
    assert all(len(r["feature"]) == 8 for r in rows.values())

    # missing columns is a usage error
    bad = str(tmp_path / "bad")
    spark.createDataFrame([(1,)], "media_id: long").write.parquet(bad)
    assert main(["media-features", "--input", bad, "--output", str(tmp_path / "x")]) == 2


def test_ingest_wide_and_offset_flags(spark, capsys, tmp_path):
    """--wide routes image shards through the 256-bit block-dHash gate;
    --offset-tolerant routes videos through the per-offset vote; each
    flag refuses the wrong modality."""
    from railgun_spark.operators.multimodal import MEDIA_SCHEMA
    from railgun_spark.operators.phash import (
        _phash_target,
        _phash_wide_pgm,
        _phash_wide_target,
        _phash_y4m,
    )

    # wide image gate: hamming-4 variant rejects in the second batch
    b1 = tmp_path / "w1"
    spark.createDataFrame(
        [(1, "image", bytearray(_phash_wide_pgm(_phash_wide_target(6, 0))), {})],
        MEDIA_SCHEMA,
    ).write.parquet(str(b1))
    widx, wsink = str(tmp_path / "widx"), str(tmp_path / "wsink")
    rc = main(["ingest", "--modality", "image", "--wide", "--id-col",
               "media_id", "--input-dir", str(b1), "--index", widx,
               "--sink", wsink])
    assert rc == 0
    assert json.loads(capsys.readouterr().out) == {"admitted": 1}
    b2 = tmp_path / "w2"
    spark.createDataFrame(
        [(9, "image", bytearray(_phash_wide_pgm(_phash_wide_target(6, 1))), {})],
        MEDIA_SCHEMA,
    ).write.parquet(str(b2))
    rc = main(["ingest", "--modality", "image", "--wide", "--id-col",
               "media_id", "--input-dir", str(b2), "--index", widx,
               "--sink", wsink])
    assert rc == 0
    assert json.loads(capsys.readouterr().out) == {"admitted": 0}

    # offset-tolerant video gate: trimmed copy rejects
    base = [_phash_target(840 + f, 0) for f in range(4)]
    v1 = tmp_path / "v1"
    spark.createDataFrame(
        [(1, "video", bytearray(_phash_y4m(base)), {})], MEDIA_SCHEMA
    ).write.parquet(str(v1))
    vidx, vsink = str(tmp_path / "vidx"), str(tmp_path / "vsink")
    rc = main(["ingest", "--modality", "video", "--offset-tolerant",
               "--every-n", "1",
               "--id-col", "media_id", "--input-dir", str(v1),
               "--index", vidx, "--sink", vsink])
    assert rc == 0
    assert json.loads(capsys.readouterr().out) == {"admitted": 1}
    v2 = tmp_path / "v2"
    spark.createDataFrame(
        [(9, "video", bytearray(_phash_y4m([h ^ 2 for h in base[1:]])), {})],
        MEDIA_SCHEMA,
    ).write.parquet(str(v2))
    rc = main(["ingest", "--modality", "video", "--offset-tolerant",
               "--every-n", "1",
               "--id-col", "media_id", "--input-dir", str(v2),
               "--index", vidx, "--sink", vsink])
    assert rc == 0
    assert json.loads(capsys.readouterr().out) == {"admitted": 0}

    # wrong-modality guards
    assert main(["ingest", "--modality", "video", "--wide", "--input-dir",
                 str(v1), "--index", vidx, "--sink", vsink]) == 2
    assert main(["ingest", "--modality", "image", "--offset-tolerant",
                 "--input-dir", str(b1), "--index", widx, "--sink", wsink]) == 2


def test_ingest_chunked_audio_flags(spark, capsys, tmp_path):
    """--chunked routes audio shards through the per-chunk fingerprint
    gate; with --offset-tolerant a trimmed re-upload rejects; flag
    guards refuse the wrong combinations."""
    from railgun_spark.operators.multimodal import MEDIA_SCHEMA
    from railgun_spark.operators.phash import _phash_target, _phash_wav_chunks

    base = [_phash_target(860 + f, 0) for f in range(4)]
    a1 = tmp_path / "a1"
    spark.createDataFrame(
        [(1, "audio", bytearray(_phash_wav_chunks(base)), {})], MEDIA_SCHEMA
    ).write.parquet(str(a1))
    aidx, asink = str(tmp_path / "aidx"), str(tmp_path / "asink")
    rc = main(["ingest", "--modality", "audio", "--chunked",
               "--offset-tolerant", "--id-col", "media_id",
               "--input-dir", str(a1), "--index", aidx, "--sink", asink])
    assert rc == 0
    assert json.loads(capsys.readouterr().out) == {"admitted": 1}
    # trimmed re-upload (front-trim 1 chunk, 1 in-budget bit per chunk)
    a2 = tmp_path / "a2"
    spark.createDataFrame(
        [(9, "audio", bytearray(_phash_wav_chunks([h ^ 1 for h in base[1:]])), {})],
        MEDIA_SCHEMA,
    ).write.parquet(str(a2))
    rc = main(["ingest", "--modality", "audio", "--chunked",
               "--offset-tolerant", "--id-col", "media_id",
               "--input-dir", str(a2), "--index", aidx, "--sink", asink])
    assert rc == 0
    assert json.loads(capsys.readouterr().out) == {"admitted": 0}
    # without --offset-tolerant the aligned chunked gate admits the trim
    # (documented miss) against a FRESH index
    rc = main(["ingest", "--modality", "audio", "--chunked",
               "--id-col", "media_id", "--input-dir", str(a2),
               "--index", str(tmp_path / "aidx2"), "--sink",
               str(tmp_path / "asink2")])
    assert rc == 0
    assert json.loads(capsys.readouterr().out) == {"admitted": 1}

    # guards: --chunked is audio-only; offset-tolerant audio needs --chunked
    assert main(["ingest", "--modality", "image", "--chunked",
                 "--input-dir", str(a1), "--index", aidx,
                 "--sink", asink]) == 2
    assert main(["ingest", "--modality", "audio", "--offset-tolerant",
                 "--input-dir", str(a1), "--index", aidx,
                 "--sink", asink]) == 2


def test_ann_subcommand(spark, capsys, tmp_path):
    """ann build/append/search end-to-end over a real embeddings parquet:
    build indexes everything, append grows the lists with the stored
    quantizer, search writes the per-query top-k and an appended exact
    copy of the query vector ranks first at cosine 1.0."""
    src = "/root/testdata/sf0.001/embeddings.parquet"
    idx, out = str(tmp_path / "ivf"), str(tmp_path / "hits")

    head = str(tmp_path / "head")
    spark.read.parquet(src).filter("vec_id >= 20 AND vec_id < 200").write.parquet(head)
    rc = main(["ann", "build", "--input", head, "--index", idx, "--k", "8"])
    assert rc == 0
    assert json.loads(capsys.readouterr().out) == {
        "indexed": 180, "k": 8, "pq": False, "store_raw": False,
        # non-PQ build: no code geometry to report
        "train_iters": 0, "pq_m": None, "pq_ks": None, "pq_train_iters": 0,
        "pq_residual": False}

    # append an exact copy of vec_id 0 under a new id
    extra = str(tmp_path / "extra")
    spark.read.parquet(src).filter("vec_id = 0").selectExpr(
        "CAST(9999 AS BIGINT) AS vec_id", "label", "embedding"
    ).write.parquet(extra)
    rc = main(["ann", "append", "--input", extra, "--index", idx])
    assert rc == 0
    assert json.loads(capsys.readouterr().out) == {"appended": 1}

    q = str(tmp_path / "q")
    spark.read.parquet(src).filter("vec_id = 0").write.parquet(q)
    rc = main(["ann", "search", "--input", q, "--index", idx,
               "--output", out, "--nprobe", "8", "--topk", "5"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep == {"n_queries": 1, "n_hits": 5, "nprobe": 8, "topk": 5}
    top = spark.read.parquet(out).orderBy("rnk").first()
    assert top["vec_id"] == 9999 and top["cos_sim"] == 1.0

    # guards: search without --output; missing vector column
    assert main(["ann", "search", "--input", q, "--index", idx]) == 2
    bad = str(tmp_path / "bad")
    spark.createDataFrame([(1,)], "vec_id: long").write.parquet(bad)
    assert main(["ann", "build", "--input", bad, "--index",
                 str(tmp_path / "i2")]) == 2


def test_ann_pq_flag(spark, capsys, tmp_path):
    """--pq builds/append/searches the codes-only IVF-PQ layout
    end-to-end; the hits carry ADC distances ascending per query."""
    src = "/root/testdata/sf0.001/embeddings.parquet"
    idx, out = str(tmp_path / "ivfpq"), str(tmp_path / "hits")

    head = str(tmp_path / "head")
    spark.read.parquet(src).filter("vec_id < 200 AND vec_id <> 0").write.parquet(head)
    rc = main(["ann", "build", "--pq", "--input", head, "--index", idx])
    assert rc == 0
    assert json.loads(capsys.readouterr().out) == {
        "indexed": 199, "k": 8, "pq": True, "store_raw": False,
        # EFFECTIVE geometry (defaults resolved), matching `ann info`
        "train_iters": 0, "pq_m": 4, "pq_ks": 4, "pq_train_iters": 0,
        "pq_residual": False}
    assert "codes" in spark.read.parquet(f"{idx}/vecs").columns
    assert "v" not in spark.read.parquet(f"{idx}/vecs").columns

    extra = str(tmp_path / "extra")
    spark.read.parquet(src).filter("vec_id >= 200 AND vec_id < 210").write.parquet(extra)
    rc = main(["ann", "append", "--pq", "--input", extra, "--index", idx])
    assert rc == 0
    assert json.loads(capsys.readouterr().out) == {"appended": 10}

    q = str(tmp_path / "q")
    spark.read.parquet(src).filter("vec_id = 0").write.parquet(q)
    rc = main(["ann", "search", "--pq", "--input", q, "--index", idx,
               "--output", out, "--nprobe", "8", "--topk", "4"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep == {"n_queries": 1, "n_hits": 4, "nprobe": 8, "topk": 4}
    rows = spark.read.parquet(out).orderBy("rnk").collect()
    assert [r["rnk"] for r in rows] == [1, 2, 3, 4]
    assert all(a["adc_dist"] <= b["adc_dist"] for a, b in zip(rows, rows[1:]))


@pytest.mark.slow
def test_ann_pq_geometry_flags(spark, capsys, tmp_path):
    """--pq-m/--pq-ks/--pq-train-iters/--pq-residual build the IVFADC
    form end-to-end: trained residual codebooks at the requested
    geometry, store_raw + --rerank searches return exact-cosine hits,
    and the flags refuse non-PQ builds."""
    src = "/root/testdata/sf0.001/embeddings.parquet"
    idx, out = str(tmp_path / "ivfadc"), str(tmp_path / "hits")

    head = str(tmp_path / "head")
    spark.read.parquet(src).filter("vec_id < 150 AND vec_id <> 0").write.parquet(head)
    rc = main(["ann", "build", "--pq", "--input", head, "--index", idx,
               "--pq-m", "8", "--pq-ks", "16", "--pq-train-iters", "2",
               "--pq-residual", "--store-raw"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["indexed"] == 149 and rep["pq_residual"] is True
    # 8 trained sub-codebooks of 16 codewords each landed on disk
    books = spark.read.parquet(f"{idx}/codebooks")
    assert books.count() == 8 * 16
    assert spark.read.parquet(f"{idx}/meta").collect()[0]["value"] == "residual"

    q = str(tmp_path / "q")
    spark.read.parquet(src).filter("vec_id = 0").write.parquet(q)
    rc = main(["ann", "search", "--pq", "--input", q, "--index", idx,
               "--output", out, "--nprobe", "8", "--topk", "3",
               "--rerank", "20"])
    assert rc == 0
    json.loads(capsys.readouterr().out)
    rows = spark.read.parquet(out).orderBy("rnk").collect()
    assert [r["rnk"] for r in rows] == [1, 2, 3]
    assert all(a["cos_sim"] >= b["cos_sim"] for a, b in zip(rows, rows[1:]))

    # geometry flags without --pq refuse
    assert main(["ann", "build", "--input", head,
                 "--index", str(tmp_path / "i2"), "--pq-m", "8"]) == 2


def test_ann_info_action(spark, capsys, tmp_path):
    """ann info reports the stored layout — kind, geometry (derived
    from the codebooks, never flags), encoding, raw-store presence, and
    list-balance skew — for both index families."""
    src = "/root/testdata/sf0.001/embeddings.parquet"
    head = str(tmp_path / "head")
    spark.read.parquet(src).write.parquet(head)

    idx = str(tmp_path / "ivfadc")
    assert main(["ann", "build", "--pq", "--input", head, "--index", idx,
                 "--pq-m", "8", "--pq-ks", "16", "--pq-residual",
                 "--store-raw"]) == 0
    capsys.readouterr()
    assert main(["ann", "info", "--index", idx]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["pq"] is True and rep["encoding"] == "residual"
    assert rep["pq_m"] == 8 and rep["pq_ks"] == 16 and rep["store_raw"]
    assert rep["rows"] == 500 and rep["k"] == 8
    assert rep["skew_max_over_mean"] >= 1.0

    idx2 = str(tmp_path / "ivf")
    assert main(["ann", "build", "--input", head, "--index", idx2]) == 0
    capsys.readouterr()
    assert main(["ann", "info", "--index", idx2]) == 0
    rep2 = json.loads(capsys.readouterr().out)
    assert rep2["pq"] is False and "encoding" not in rep2
    assert rep2["rows"] == 500


def test_ann_compact_action(spark, capsys, tmp_path):
    """ann compact folds replay-duplicated index rows in place; build
    and append without --input refuse."""
    from railgun_spark.operators.similarity import append_to_index, to_double
    from pyspark.sql import functions as F

    src = "/root/testdata/sf0.001/embeddings.parquet"
    idx = str(tmp_path / "ivf")
    head = str(tmp_path / "head")
    spark.read.parquet(src).filter("vec_id < 100").write.parquet(head)
    assert main(["ann", "build", "--input", head, "--index", idx]) == 0
    capsys.readouterr()

    # inject a duplicate append (the crash-replay shape)
    dup = spark.read.parquet(src).filter("vec_id >= 100 AND vec_id < 110").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("v")
    )
    append_to_index(dup, idx)
    append_to_index(dup, idx)
    assert spark.read.parquet(f"{idx}/vecs").count() == 120

    assert main(["ann", "compact", "--index", idx]) == 0
    assert json.loads(capsys.readouterr().out) == {"rows": 110}
    assert spark.read.parquet(f"{idx}/vecs").count() == 110

    assert main(["ann", "build", "--index", idx]) == 2


def test_ann_store_raw_and_rerank_flags(spark, capsys, tmp_path):
    """ann build --pq --store-raw + search --pq --rerank end-to-end: the
    refine leg re-scores the ADC shortlist by exact cosine (an exact
    duplicate ranks first at cos 1.0); --rerank without --pq and
    --store-raw without --pq are refused."""
    src = "/root/testdata/sf0.001/embeddings.parquet"
    idx, out = str(tmp_path / "ivfpq"), str(tmp_path / "hits")

    body = str(tmp_path / "body")
    df = spark.read.parquet(src)
    dup = df.filter("vec_id = 0").selectExpr(
        "CAST(9999 AS BIGINT) AS vec_id", "embedding", "label"
    )
    df.filter("vec_id > 0").unionByName(dup).write.parquet(body)
    rc = main(["ann", "build", "--pq", "--store-raw",
               "--input", body, "--index", idx, "--k", "8"])
    assert rc == 0
    assert json.loads(capsys.readouterr().out)["store_raw"] is True

    q = str(tmp_path / "q")
    df.filter("vec_id = 0").write.parquet(q)
    rc = main(["ann", "search", "--pq", "--rerank", "25", "--nprobe", "8",
               "--input", q, "--index", idx, "--output", out])
    assert rc == 0
    assert json.loads(capsys.readouterr().out)["n_hits"] == 10
    top = (
        spark.read.parquet(out).orderBy("rnk").limit(1).collect()[0]
    )
    assert top["vec_id"] == 9999 and top["cos_sim"] == 1.0

    assert main(["ann", "search", "--rerank", "25", "--input", q,
                 "--index", idx, "--output", out]) == 2
    assert main(["ann", "build", "--store-raw", "--input", body,
                 "--index", str(tmp_path / "x")]) == 2


def test_ann_train_iters_flag(spark, capsys, tmp_path):
    """ann build --train-iters N Lloyd-trains the coarse quantizer before
    indexing: the stored centroids differ from the first-K init, the
    index stays k-wide, and searches still return full top-k."""
    src = "/root/testdata/sf0.001/embeddings.parquet"
    idx, out = str(tmp_path / "ivf"), str(tmp_path / "hits")
    rc = main(["ann", "build", "--input", src, "--index", idx,
               "--k", "8", "--train-iters", "3"])
    assert rc == 0
    assert json.loads(capsys.readouterr().out)["train_iters"] == 3

    cents = spark.read.parquet(f"{idx}/centroids").collect()
    assert len(cents) == 8  # quantizer stays k-wide through training
    first_k = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in spark.read.parquet(src).filter("vec_id < 8").collect()
    }
    trained = {int(r["cid"]): [float(x) for x in r["cv"]] for r in cents}
    assert set(trained) == set(first_k)  # cids keep the first-K ids
    assert any(trained[c] != first_k[c] for c in trained)  # actually moved

    q = str(tmp_path / "q")
    spark.read.parquet(src).filter("vec_id = 0").write.parquet(q)
    rc = main(["ann", "search", "--input", q, "--index", idx,
               "--output", out, "--nprobe", "2"])
    assert rc == 0
    assert json.loads(capsys.readouterr().out)["n_hits"] == 10
