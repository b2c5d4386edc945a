"""IO matrix, process() pipeline, dynamic partitioned sink, catalog CRUD +
exec semantics, multimodal plumbing."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from railgun_spark.catalog import Catalog, DataStore, Job, Layer, Process, Service, Workflow
from railgun_spark.catalog.registry import AlreadyExists, DependencyError
from railgun_spark.plans.process import analyze_output_uri, process_uri
from railgun_spark.sources import formats


# ---------------- format registry ----------------

def test_split_name_format_compression():
    s = formats.split_name_format_compression("/x/y/features.geojsonl.gz")
    assert (s.name, s.format, s.compression) == ("features", "jsonl", "gzip")
    s = formats.split_name_format_compression("data.toml")
    assert s.format == "toml" and s.compression is None
    s = formats.split_name_format_compression("cities.tsv.bz2")
    assert (s.format, s.compression) == ("tsv", "bzip2")


def test_read_jsonl_and_convert(spark, tmp_path):
    src = tmp_path / "rows.jsonl"
    src.write_text("\n".join(json.dumps({"a": i, "b": f"x{i}"}) for i in range(5)))
    df = formats.read(spark, str(src))
    assert df.count() == 5
    out = tmp_path / "rows.csv"
    formats.convert(spark, str(src), str(out))
    back = formats.read(spark, str(out), inferSchema="true")
    assert back.count() == 5


def test_read_tsv_with_header_override(spark, tmp_path):
    src = tmp_path / "cities.tsv"
    src.write_text("1\tParis\n2\tTokyo\n")
    df = formats.read(spark, str(src), header=["id", "city"])
    rows = {r["id"]: r["city"] for r in df.collect()}
    assert rows == {"1": "Paris", "2": "Tokyo"}


def test_read_toml_and_properties(spark, tmp_path):
    t = tmp_path / "conf.toml"
    t.write_text('name = "x"\ncount = 3\n')
    df = formats.read(spark, str(t))
    r = df.collect()[0]
    assert r["name"] == "x" and r["count"] == 3
    p = tmp_path / "app.properties"
    p.write_text("key=value\nother=2\n")
    df2 = formats.read(spark, str(p))
    assert df2.collect()[0]["key"] == "value"


def test_read_hcl(spark, tmp_path):
    f = tmp_path / "app.hcl"
    f.write_text(
        """
        # service config
        name    = "edge"
        port    = 8080
        debug   = true
        tags    = ["a", "b"]
        limits  = { cpu = 2, mem = "1g" }
        backend "s3" {
          bucket = "data"
          region = "us-east-1"
        }
        listener { port = 1 }
        listener { port = 2 }
        """
    )
    r = formats.read(spark, str(f)).collect()[0]
    assert r["name"] == "edge" and r["port"] == 8080 and r["debug"] is True
    assert list(r["tags"]) == ["a", "b"]
    assert r["limits"]["mem"] == "1g"
    assert r["backend"]["s3"]["bucket"] == "data"
    assert [x["port"] for x in r["listener"]] == [1, 2]


def test_hcl_parser_units():
    from railgun_spark.sources.hcl import HclError, loads

    assert loads('x = -3.5\ny = 2e3') == {"x": -3.5, "y": 2000.0}
    assert loads('s = "a\\"b"') == {"s": 'a"b'}
    assert loads("b \"x\" {v=1}\nb \"y\" {v=2}") == {"b": {"x": {"v": 1}, "y": {"v": 2}}}
    assert loads("// c\n/* c2 */\nk = null") == {"k": None}
    with pytest.raises(HclError):
        loads("k = ")


# ---------------- process() + dynamic sink ----------------

def test_process_uri_pipeline(spark, tmp_path):
    src = tmp_path / "events.jsonl"
    src.write_text(
        "\n".join(json.dumps({"id": i, "kind": "a" if i % 2 else "b", "v": i * 1.5}) for i in range(10))
    )
    out = process_uri(
        spark,
        str(src),
        "filter(@, '@v > 3') | map(@, '{id: @id, kind: @kind}')",
    )
    assert out.count() == 7


def test_dynamic_partitioned_sink(spark, tmp_path):
    df = spark.createDataFrame(
        [Row(id=i, _tile_z=10, _tile_x=290 + (i % 2), _tile_y=391) for i in range(8)]
    )
    sink = analyze_output_uri(
        '$dir + "/tiles/" + @_tile_z + "-" + @_tile_x + "-" + @_tile_y',
        {"dir": str(tmp_path)},
        df,
    )
    assert sink is not None
    assert sink.base.startswith(str(tmp_path))
    assert sink.partition_cols == ["_p__tile_z", "_p__tile_x", "_p__tile_y"]

    src = tmp_path / "in.jsonl"
    src.write_text("\n".join(json.dumps({"id": i, "tx": 290 + (i % 2)}) for i in range(8)))
    process_uri(
        spark,
        str(src),
        None,
        output_uri='$dir + "/out/" + @tx',
        variables={"dir": str(tmp_path)},
        output_format="jsonl",
    )
    parts = sorted(p for p in os.listdir(tmp_path / "out") if p.startswith("_p_"))
    assert parts == ["_p_tx=290", "_p_tx=291"]


# ---------------- catalog ----------------

@pytest.fixture()
def catalog(spark, tmp_path):
    data = tmp_path / "features.jsonl"
    data.write_text(
        "\n".join(
            json.dumps({"id": i, "amenity": a, "name": f"n{i}"})
            for i, a in enumerate(["bar", "cafe", "bar", "clinic", "bar"])
        )
    )
    cat = Catalog(spark)
    cat.add(DataStore(name="osm", uri=str(data), format="jsonl"))
    cat.add(Layer(name="bars", datastore="osm", expression="filter(@, '@amenity == bar')"))
    cat.add(Process(name="count_by_amenity", expression="hist(@, '@amenity')"))
    cat.add(Service(name="svc", datastore="osm", process="count_by_amenity"))
    cat.add(Job(name="job1", service="svc"))
    cat.add(Workflow(name="wf", jobs=["job1"]))
    return cat


def test_catalog_crud_conflicts_and_deps(catalog):
    with pytest.raises(AlreadyExists):
        catalog.add(DataStore(name="osm", uri="/x"))
    with pytest.raises(DependencyError):
        catalog.delete(DataStore, "osm")  # layer + service depend on it
    with pytest.raises(DependencyError):
        catalog.delete(Service, "svc")  # job depends on it
    catalog.delete(Workflow, "wf")
    catalog.delete(Job, "job1")
    catalog.delete(Service, "svc")


def test_layer_filter_and_service_exec(catalog):
    assert catalog.layer_frame("bars").count() == 3
    hist = catalog.exec_service("svc")
    got = {r["key"]: r["count"] for r in hist.collect()}
    assert got == {"bar": 3, "cafe": 1, "clinic": 1}


def test_workflow_exec(catalog):
    results = catalog.exec_workflow("wf")
    assert len(results) == 1 and results[0].count() == 3


def test_catalog_roundtrip(catalog, tmp_path, spark):
    path = str(tmp_path / "catalog.json")
    catalog.save(path)
    loaded = Catalog.load(spark, path)
    assert loaded.get(Service, "svc").process == "count_by_amenity"
    assert loaded.get(Layer, "bars").expression.startswith("filter")
    # every MODEL_TYPES key round-trips — DataStore was silently dropped
    # when save used key.capitalize() ('Datastore' != 'DataStore')
    ds = loaded.get(DataStore, "osm")
    assert ds.format == "jsonl"
    assert loaded.layer_frame("bars").count() == 3


def test_stored_query_datastore(catalog, spark):
    spark.range(7).createOrReplaceTempView("t_stored")
    catalog.add_stored_query("seven", "SELECT id FROM t_stored WHERE id >= 2")
    catalog.add(DataStore(name="sq", uri="stored_query://seven", format="parquet"))
    assert catalog.load_datastore("sq").count() == 5
    with pytest.raises(AlreadyExists):
        catalog.add_stored_query("seven", "SELECT 1")


def test_exec_service_assignment_continuity(spark, tmp_path):
    data = tmp_path / "d.jsonl"
    data.write_text("\n".join(json.dumps({"v": i}) for i in range(4)))
    cat = Catalog(spark)
    cat.add(DataStore(name="d", uri=str(data), format="jsonl"))
    cat.add(Process(name="p", expression="($n := 42) | filter(@, '@v >= 0')"))
    cat.add(Service(name="s", datastore="d", process="p"))
    cat.exec_service("s", {"reqvar": "ephemeral"})
    # DFL assignments persist for the session; request variables do not leak
    assert cat._service_vars["s"].get("n") == 42
    assert "reqvar" not in cat._service_vars["s"]


def test_datastore_uri_dfl_expression(spark, tmp_path):
    d = tmp_path / "proj5400.jsonl"
    d.write_text(json.dumps({"projectId": 5400}))
    cat = Catalog(spark)
    cat.add(DataStore(name="hot", uri=f'"{tmp_path}/proj" + $project + ".jsonl"', format="jsonl"))
    df = cat.load_datastore("hot", {"project": "5400"})
    assert df.collect()[0]["projectId"] == 5400


def test_frame_memo_invalidation_and_eviction(spark, tmp_path):
    """A DataStore redefinition (update, or delete then re-add) makes
    layer_frame parse the source anew and unpersists the replaced frame;
    a full memo of variable-uri frames evicts, and unpersists, its oldest
    frame."""

    def released(df) -> bool:
        return not df.is_cached and not df.storageLevel.useMemory

    data = tmp_path / "pts.jsonl"
    data.write_text('{"id": 0, "lat": 2.0, "lon": 1.0}\n{"id": 1, "lat": 3.0, "lon": 4.0}\n')
    cat = Catalog(spark)
    cat.add(DataStore(name="pts", uri=str(data), format="csv"))
    cat.add(Layer(name="l", datastore="pts"))
    as_csv = cat.layer_frame("l")
    assert sorted(as_csv.columns) != ["id", "lat", "lon"]
    assert cat.layer_frame("l") is as_csv  # warm repeat

    cat.update(DataStore(name="pts", uri=str(data), format="jsonl"))
    as_json = cat.layer_frame("l")
    assert sorted(as_json.columns) == ["id", "lat", "lon"]
    assert released(as_csv)

    cat.delete(Layer, "l")
    cat.delete(DataStore, "pts")
    cat.add(DataStore(name="pts", uri=str(data), format="csv"))
    cat.add(Layer(name="l", datastore="pts"))
    assert sorted(cat.layer_frame("l").columns) != ["id", "lat", "lon"]
    assert released(as_json)
    # one uri under two formats is two frames
    cat.add(DataStore(name="pts_json", uri=str(data), format="jsonl"))
    assert sorted(cat.load_datastore("pts_json").columns) == ["id", "lat", "lon"]
    assert sorted(cat.layer_frame("l").columns) != ["id", "lat", "lon"]

    # a uri over $variables is a key per value, bounded: the oldest
    # frame is evicted and unpersisted. A uri without `$` is one key per
    # DataStore and does not count against that bound.
    cat = Catalog(spark)
    cat._variable_frames.capacity = 2
    cat.add(DataStore(name="fixed", uri=str(data), format="jsonl"))
    fixed = cat.load_datastore("fixed")
    cat.add(DataStore(name="var", uri=f'"{tmp_path}/f" + $i + ".jsonl"', format="jsonl"))
    frames = []
    for i in range(3):
        (tmp_path / f"f{i}.jsonl").write_text(json.dumps({"id": i}))
        frames.append(cat.load_datastore("var", {"i": str(i)}))
    assert len(cat._variable_frames) == 2
    assert released(frames[0]) and frames[2].is_cached
    assert cat.load_datastore("var", {"i": "2"}) is frames[2]
    assert cat.load_datastore("fixed") is fixed and fixed.is_cached


def test_memo_concurrent_same_key_shares_first_value():
    """Two callers of one key released together: the compute runs once,
    both get the same object and nothing is released — releasing it
    would unpersist the one cache entry a frame's plan holds."""
    import threading

    from railgun_spark.catalog.registry import Memo

    dropped: list = []
    memo = Memo(4, drop=dropped.append)
    both_calling = threading.Barrier(2, timeout=30)
    calls: list = []
    got: list = []

    def compute() -> list:
        calls.append(1)
        threading.Event().wait(0.3)  # the second caller arrives meanwhile
        return [threading.get_ident()]

    def caller() -> None:
        both_calling.wait()
        got.append(memo.get("k", 1.0, 300.0, compute))

    threads = [threading.Thread(target=caller) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 2 and got[0] is got[1]
    assert dropped == [] and memo.get("k", 1.0, 300.0, list) is got[0]
    assert len(calls) == 1


def test_memo_compute_reentering_its_key_does_not_wait_on_itself():
    """A compute that reaches its own key computes it inline instead of
    waiting on its own flight; the value that landed first is shared
    and the other is not released (equal frame plans share one Spark
    cache entry)."""
    from railgun_spark.catalog.registry import Memo

    dropped: list = []
    memo = Memo(4, drop=dropped.append)
    inner: list = []

    def outer() -> list:
        inner.append(memo.get("k", 1.0, 300.0, lambda: ["inner"]))
        return ["outer"]

    got = memo.get("k", 1.0, 300.0, outer)
    assert got == ["inner"] and got is inner[0]
    assert memo.get("k", 1.0, 300.0, list) is got and dropped == []


def test_memo_single_flight_failed_compute_lets_waiter_compute():
    """A compute that raises wakes the caller waiting on it, which then
    computes the value itself; nothing from the failed flight is stored."""
    import threading

    import pytest

    from railgun_spark.catalog.registry import Memo

    memo = Memo(4)
    first_running = threading.Event()
    waiter_done: list = []
    log: list = []

    def failing() -> list:
        first_running.set()
        threading.Event().wait(0.3)
        log.append("failed")
        raise RuntimeError("boom")

    def second() -> list:
        log.append("second")
        return ["second"]

    def waiter() -> None:
        first_running.wait(30)
        waiter_done.append(memo.get("k", 1.0, 300.0, second))

    t = threading.Thread(target=waiter)
    t.start()
    with pytest.raises(RuntimeError, match="boom"):
        memo.get("k", 1.0, 300.0, failing)
    t.join(timeout=60)
    assert log == ["failed", "second"]
    assert waiter_done == [["second"]]
    assert memo.get("k", 1.0, 300.0, list) is waiter_done[0]


def test_memo_threaded_bound_and_single_release():
    """Many threads over few keys, with clears racing the computes: the
    memo never exceeds its capacity, never releases a value twice, and
    never holds a released value; a value a clear made stale mid-compute
    is released."""
    import sys
    import threading

    from railgun_spark.catalog.registry import Memo

    dropped: list = []
    memo = Memo(4, drop=dropped.append)
    errors: list = []

    def work(seed: int) -> None:
        try:
            for i in range(400):
                key = (seed * 7 + i) % 9
                value = memo.get(key, i % 3, 300.0, lambda key=key: [key])
                assert value == [key]
                if i % 50 == seed:
                    memo.clear()
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads) and not errors
    assert len(memo) <= 4
    ids = [id(v) for v in dropped]
    assert len(ids) == len(set(ids))
    held = {id(v) for _, _, v in memo._entries.values()}
    assert not held & set(ids)

    # a clear landing mid-compute: the caller gets its value and the memo
    # does not keep it. It is released, unless a compute under the new
    # generation has stored the key by then (their equal frame plans
    # share one Spark cache entry).
    memo.clear()
    dropped.clear()

    def clearing() -> list:
        memo.clear()
        return ["stale"]

    stale = memo.get("k", 0, 300.0, clearing)
    assert stale == ["stale"] and len(memo) == 0 and dropped == [stale]

    dropped.clear()
    fresh: list = []

    def clearing_then_refilled() -> list:
        memo.clear()
        fresh.append(memo.get("k", 0, 300.0, lambda: ["fresh"]))
        return ["stale"]

    assert memo.get("k", 0, 300.0, clearing_then_refilled) == ["stale"]
    assert dropped == [] and memo.get("k", 0, 300.0, list) is fresh[0]


# ---------------- schemes, zip, enc routing ----------------

def test_read_http_scheme(spark, tmp_path):
    import functools
    import http.server
    import threading

    (tmp_path / "remote.jsonl").write_text(
        "\n".join(json.dumps({"i": i}) for i in range(4))
    )
    handler = functools.partial(
        http.server.SimpleHTTPRequestHandler, directory=str(tmp_path)
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/remote.jsonl"
        assert formats.read(spark, url).count() == 4
    finally:
        srv.shutdown()


def test_read_stdin_scheme(spark, monkeypatch):
    import io

    payload = b'{"x": 1}\n{"x": 2}\n'

    class FakeStdin:
        buffer = io.BytesIO(payload)

    monkeypatch.setattr("sys.stdin", FakeStdin)
    df = formats.read(spark, "-", fmt="jsonl")
    assert sorted(r["x"] for r in df.collect()) == [1, 2]


def test_read_zip(spark, tmp_path):
    import zipfile

    with zipfile.ZipFile(tmp_path / "bundle.csv.zip", "w") as zf:
        zf.writestr("part1.csv", "a,b\n1,x\n2,y\n")
        zf.writestr("part2.csv", "a,b\n3,z\n")
    df = formats.read(spark, str(tmp_path / "bundle.csv.zip"))
    assert df.count() == 3


def test_read_enc_requires_passphrase(spark, tmp_path):
    from railgun_spark.sources import crypto

    salt = "a1b2c3d4e5f60718"
    plain = b'{"v": 7}\n'
    (tmp_path / "data.jsonl.enc").write_bytes(crypto.encrypt_bytes(plain, "pw", salt))
    with pytest.raises(ValueError, match="encrypted"):
        formats.read(spark, str(tmp_path / "data.jsonl.enc"))
    df = formats.read(spark, str(tmp_path / "data.jsonl.enc"), passphrase="pw", salt=salt)
    assert df.collect()[0]["v"] == 7


# ---------------- multimodal ----------------

def test_multimodal_feature_extraction(spark):
    from railgun_spark.operators.multimodal import MEDIA_SCHEMA, extract_features, frame_sample

    rows = [
        (1, "image", b"abcdef" * 10, {"fmt": "png"}),
        (2, "video", b"xyz" * 50, {"fmt": "mp4", "frames": "25"}),
        (3, "image", b"", {}),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_features(df).collect()
    by_id = {r["media_id"]: r for r in feats}
    assert by_id[1]["n_bytes"] == 60 and len(by_id[1]["feature"]) == 8
    assert by_id[3]["n_bytes"] == 0
    sampled = frame_sample(df, every_n=10).collect()
    assert [r["frame_idx"] for r in sampled] == [0, 10, 20]


def test_spread_for_decode_conditional(spark):
    """Decode-spread policy: a narrow frame (e.g. a single-file parquet
    scan = 1 partition) is repartitioned to defaultParallelism so the
    Python decode stage uses every core; a frame already at or above
    that parallelism passes through IDENTICALLY — no extra Exchange in
    the plan (the 100 TB scan path must not pay a pointless shuffle)."""
    from railgun_spark.session import spread_scan

    par = spark.sparkContext.defaultParallelism
    base = spark.range(1000)
    narrow = base.coalesce(1)
    assert narrow.rdd.getNumPartitions() == 1

    # heavy (real-codec) decode: narrow input always spreads
    assert spread_scan(narrow, heavy=True).rdd.getNumPartitions() == par

    # light decode over a tiny input: the shuffle costs more than one
    # core's decode — pass through identically
    assert spread_scan(narrow) is narrow

    # light decode over a "big" input (threshold forced to 0): spreads
    assert spread_scan(narrow, min_bytes=0).rdd.getNumPartitions() == par

    # already-parallel input: identity regardless of cost class
    wide = base.repartition(par * 2)
    assert spread_scan(wide, heavy=True) is wide
    assert spread_scan(wide) is wide


# ---------------- bucketed co-located join ----------------

def test_bucketed_join_eliminates_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both join sides on the key lets SortMergeJoin read
    co-located buckets with NO Exchange — the 100 TB co-location story
    (SURVEY §4): pay one write-time shuffle, join shuffle-free forever."""
    import io
    from contextlib import redirect_stdout

    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").option(
        "path", str(tmp_path / "li_b")
    ).saveAsTable("li_b")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").option(
        "path", str(tmp_path / "ord_b")
    ).saveAsTable("ord_b")
    try:
        # disable auto-broadcast so the join would otherwise shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("li_b").join(
            spark.table("ord_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucket co-location: zero shuffles
        assert joined.count() == li.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_write_encrypted_roundtrip(spark, tmp_path):
    from railgun_spark.plans.process import process_uri

    salt = "00112233445566778899aabbccddeeff"
    src = tmp_path / "plain.jsonl"
    src.write_text("\n".join(json.dumps({"k": i, "s": f"v{i}"}) for i in range(6)))
    enc_path = str(tmp_path / "out.jsonl.enc")
    # write through the full process path (read -> DFL -> encrypted sink)
    process_uri(
        spark,
        str(src),
        "filter(@, '@k >= 2')",
        output_uri=enc_path,
        output_passphrase="pw",
        output_salt=salt,
    )
    # ciphertext on disk, refuses plain read, decrypts back to the rows
    raw = open(enc_path, "rb").read()
    assert b'"k"' not in raw
    with pytest.raises(ValueError, match="encrypted"):
        formats.read(spark, enc_path)
    back = formats.read(spark, enc_path, passphrase="pw", salt=salt)
    assert sorted(r["k"] for r in back.collect()) == [2, 3, 4, 5]


# ---------------- write-side document formats ----------------
def test_write_document_formats_roundtrip(spark, tmp_path):
    """yaml/toml/properties/hcl serialize out and read back through the same
    formats.read path (reference writes every format, cli/process.go:927-941)."""
    one = spark.createDataFrame([Row(name="web", port=8080, active=True, ratio=0.5)])
    for fmt in ("yaml", "toml", "hcl"):
        p = str(tmp_path / f"doc.{fmt}")
        formats.write(one, p, fmt=fmt)
        back = formats.read(spark, p, fmt=fmt).collect()
        assert len(back) == 1
        r = back[0].asDict()
        assert (r["name"], r["port"], r["active"]) == ("web", 8080, True), fmt
        assert abs(r["ratio"] - 0.5) < 1e-12, fmt

    # properties is string-typed on read (java-style k=v lines)
    props = spark.createDataFrame([Row(host="localhost", port="5432")])
    p = str(tmp_path / "conn.properties")
    formats.write(props, p)
    r = formats.read(spark, p).collect()[0].asDict()
    assert r == {"host": "localhost", "port": "5432"}


def test_write_yaml_multirow_and_nested_toml(spark, tmp_path):
    multi = spark.createDataFrame([Row(k=1, s="a"), Row(k=2, s="b")])
    p = str(tmp_path / "rows.yaml")
    formats.write(multi, p)
    back = formats.read(spark, p)
    assert sorted(r["k"] for r in back.collect()) == [1, 2]

    # nested struct -> [table] section
    nested = spark.createDataFrame([Row(name="svc", limits=Row(cpu=2, mem="4g"))])
    p2 = str(tmp_path / "svc.toml")
    formats.write(nested, p2)
    r = formats.read(spark, p2).collect()[0].asDict(recursive=True)
    assert r["name"] == "svc" and r["limits"] == {"cpu": 2, "mem": "4g"}


def test_write_single_document_format_rejects_multirow(spark, tmp_path):
    multi = spark.createDataFrame([Row(k=1), Row(k=2)])
    for fmt in ("toml", "properties", "hcl"):
        with pytest.raises(ValueError, match="single-document"):
            formats.write(multi, str(tmp_path / f"x.{fmt}"))


# ---------------- zip: passphrase forwarding + empty archive ----------------
def test_read_zip_forwards_passphrase(spark, tmp_path):
    import zipfile

    from railgun_spark.sources import crypto

    salt = "a1b2c3d4e5f60718"
    plain = b'{"k": 1}\n{"k": 2}'
    with zipfile.ZipFile(tmp_path / "bundle.zip", "w") as zf:
        zf.writestr("part.jsonl.enc", crypto.encrypt_bytes(plain, "pw", salt))
    df = formats.read(spark, str(tmp_path / "bundle.zip"), passphrase="pw", salt=salt)
    assert sorted(r["k"] for r in df.collect()) == [1, 2]


def test_read_empty_zip_is_clear_error(spark, tmp_path):
    import zipfile

    with zipfile.ZipFile(tmp_path / "empty.zip", "w"):
        pass
    with pytest.raises(ValueError, match="no file members"):
        formats.read(spark, str(tmp_path / "empty.zip"), fmt="jsonl")


# ---------------- KDF explicitness + Argon2i interop ----------------
def _has_argon2i_backend() -> bool:
    try:
        from cryptography.hazmat.primitives.kdf.argon2 import Argon2i  # noqa: F401

        return True
    except ImportError:
        try:
            import argon2  # noqa: F401

            return True
        except ImportError:
            return False


@pytest.mark.skipif(not _has_argon2i_backend(), reason="no Argon2i backend")
def test_argon2i_backend_matches_rfc9106_vector():
    """The backend must reproduce the PUBLISHED RFC 9106 §5.2 Argon2i v1.3
    test vector. Go's x/crypto/argon2 passes the same vectors, so this
    proves the primitive is the one CreateCipher.go:26 uses."""
    from cryptography.hazmat.primitives.kdf.argon2 import Argon2i

    tag = Argon2i(
        salt=bytes([2]) * 16,
        length=32,
        iterations=3,
        lanes=4,
        memory_cost=32,
        secret=bytes([3]) * 8,
        ad=bytes([4]) * 12,
    ).derive(bytes([1]) * 32)
    assert tag.hex() == (
        "c814d9d1dc7f37aa13f0d77f2494bda1c8de6b016dd388d29952a4c4672b6ce8"
    )


@pytest.mark.skipif(not _has_argon2i_backend(), reason="no Argon2i backend")
def test_kdf_argon2i_go_parameter_set_pinned():
    """Pinned fixture for the exact Go-railgun parameter set (time=3,
    memory=32 MiB, lanes=4, keyLen=32): any drift in a cost parameter or a
    backend swap that changes output breaks this, so .enc interop with
    Go-railgun ciphertexts stays provable."""
    from railgun_spark.sources import crypto

    key = crypto.derive_key(
        "passphrase", "00112233445566778899aabbccddeeff", kdf="argon2i"
    )
    assert key.hex() == (
        "2ba65137f0e02976adca59647a946195510d5211e666154bd7d779270075d32d"
    )
    # auto resolves to argon2i (no downgrade warning) when a backend exists
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        auto = crypto.derive_key("passphrase", "00112233445566778899aabbccddeeff")
    assert auto == key


def test_kdf_auto_downgrade_warns_when_no_backend(monkeypatch):
    from railgun_spark.sources import crypto

    def _no_backend(passphrase, salt):
        raise ImportError("simulated: no Argon2i backend")

    monkeypatch.setattr(crypto, "_argon2i_go_params", _no_backend)
    with pytest.raises(RuntimeError, match="Argon2i backend"):
        crypto.derive_key("pw", "a1b2c3d4e5f60718", kdf="argon2i")
    with pytest.warns(RuntimeWarning, match="NOT interoperable"):
        crypto.derive_key("pw", "a1b2c3d4e5f60718")
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # explicit argon2id: no warning
        crypto.derive_key("pw", "a1b2c3d4e5f60718", kdf="argon2id")


# ---------------- BSON codec ----------------
def test_bson_codec_matches_published_spec_examples():
    """Byte-for-byte against the two worked examples on bsonspec.org."""
    from railgun_spark.sources import bson_codec

    assert bson_codec.dumps({"hello": "world"}) == (
        b"\x16\x00\x00\x00\x02hello\x00\x06\x00\x00\x00world\x00\x00"
    )
    assert bson_codec.dumps({"BSON": ["awesome", 5.05, 1986]}) == (
        b"1\x00\x00\x00\x04BSON\x00&\x00\x00\x00\x020\x00\x08\x00\x00\x00"
        b"awesome\x00\x011\x00333333\x14@\x102\x00\xc2\x07\x00\x00\x00\x00"
    )


def test_bson_codec_round_trip_and_stream():
    import datetime as _dt

    from railgun_spark.sources import bson_codec

    doc = {
        "s": "héllo",
        "i32": 3,
        "i64": 2**40,
        "f": 1.5,
        "b": True,
        "n": None,
        "arr": [1, "two", {"k": 2.0}],
        "nested": {"a": [True, None]},
        "bin": b"\x00\x01\xff",
        "ts": _dt.datetime(2024, 5, 1, tzinfo=_dt.timezone.utc),
    }
    assert bson_codec.loads(bson_codec.dumps(doc)) == doc
    stream = bson_codec.dumps({"a": 1}) + bson_codec.dumps({"b": 2})
    assert bson_codec.loads_many(stream) == [{"a": 1}, {"b": 2}]
    with pytest.raises(ValueError, match="malformed BSON"):
        bson_codec.loads_many(stream[:-3])
    with pytest.raises(ValueError, match="unsupported BSON element type"):
        # 0x07 ObjectId is deliberately out of scope
        bson_codec.loads(b"\x11\x00\x00\x00\x07k\x00" + b"\x00" * 12 + b"\x00")


def test_bson_format_read_write_round_trip(spark, tmp_path):
    """Multi-row DataFrame -> concatenated BSON docs -> DataFrame."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(name="a", n=1, score=0.5), Row(name="b", n=2, score=1.5)]
    )
    p = str(tmp_path / "rows.bson")
    formats.write(df, p, fmt="bson")
    back = formats.read(spark, p, fmt="bson")
    got = sorted((r["name"], r["n"], r["score"]) for r in back.collect())
    assert got == [("a", 1, 0.5), ("b", 2, 1.5)]


def test_kdf_invalid_name_rejected():
    from railgun_spark.sources import crypto

    with pytest.raises(ValueError, match="kdf must be one of"):
        crypto.derive_key("pw", "a1b2c3d4e5f60718", kdf="scrypt")


def test_wrong_passphrase_fails_loudly(spark, tmp_path):
    from railgun_spark.sources import crypto

    salt = "a1b2c3d4e5f60718"
    p = tmp_path / "d.jsonl.enc"
    p.write_bytes(crypto.encrypt_bytes(b'{"k": 1}', "right-pw", salt))
    with pytest.raises(ValueError, match="KDF mismatch|undecodable"):
        crypto.read_encrypted(spark, str(p), "wrong-pw", salt)


def test_wrong_passphrase_utf8_garbage_still_diagnosed(spark, tmp_path, monkeypatch):
    """Wrong-key CFB garbage occasionally IS valid UTF-8; the parse step must
    still raise the loud wrong-passphrase diagnosis, not a bare
    JSONDecodeError (this was a real order-dependent flake: random IVs made
    the garbage decodable ~1 run in N)."""
    from railgun_spark.sources import crypto

    salt = "a1b2c3d4e5f60718"
    p = tmp_path / "d.jsonl.enc"
    p.write_bytes(crypto.encrypt_bytes(b'{"k": 1}', "right-pw", salt))
    monkeypatch.setattr(crypto, "decrypt_bytes", lambda *a, **k: b"\x01 not json")
    with pytest.raises(ValueError, match="undecodable"):
        crypto.read_encrypted(spark, str(p), "wrong-pw", salt)


# ---------------- encrypted-many: scheme-agnostic schema probe ----------------
def test_read_encrypted_many_probe_has_no_local_open(spark, tmp_path, monkeypatch):
    """The schema probe must fetch bytes THROUGH Spark (s3a/hdfs safe), never
    via a driver-local open() on a stripped URI."""
    from railgun_spark.sources import crypto

    salt = "00112233445566778899aabbccddeeff"
    shard_dir = tmp_path / "shards"
    shard_dir.mkdir()
    for i in range(3):
        payload = "\n".join(json.dumps({"id": i * 10 + j, "s": f"r{i}"}) for j in range(4))
        (shard_dir / f"part-{i}.jsonl.enc").write_bytes(
            crypto.encrypt_bytes(payload.encode(), "pw", salt)
        )

    def _banned_open(*a, **k):
        raise AssertionError("read_encrypted_many called local open() — breaks s3a/hdfs")

    monkeypatch.setattr(crypto, "open", _banned_open, raising=False)
    df = crypto.read_encrypted_many(spark, str(shard_dir), "pw", salt)
    assert df.count() == 12
    assert sorted(df.columns) == ["id", "s"]


def test_exec_service_rebound_variable_updates_cache(spark, tmp_path):
    """A DFL assignment that REBINDS an existing session var must update the
    cache (ServiceExecHandler.go:282-290), not be dropped as already-merged."""
    data = tmp_path / "d2.jsonl"
    data.write_text(json.dumps({"v": 1}))
    cat = Catalog(spark)
    cat.add(DataStore(name="d2", uri=str(data), format="jsonl"))
    # n exists in defaults (so it is already in the merged scope) and the
    # evaluation rebinds it — the old `k not in merged` guard dropped this
    cat.add(Process(name="p2", expression="($n := 42) | filter(@, '@v >= 0')"))
    cat.add(Service(name="s2", datastore="d2", process="p2", defaults={"n": 0}))
    cat.exec_service("s2")
    assert cat._service_vars["s2"].get("n") == 42
    # request variables passing through unchanged still never leak
    cat.exec_service("s2", {"ephemeral": "x"})
    assert "ephemeral" not in cat._service_vars["s2"]


def test_hcl2_interpolation_with_variables():
    from railgun_spark.sources.hcl import loads

    text = '''
    name    = "svc-${env}"
    workers = "${count}"
    image   = "${var.registry.host}/app"
    raw     = "${upper(env)}"
    nested { endpoint = "${env}.example.com" }
    '''
    vars = {"env": "prod", "count": 3, "registry": {"host": "r.io"}}
    doc = loads(text, variables=vars)
    assert doc["name"] == "svc-prod"
    assert doc["workers"] == 3  # full-string interpolation keeps native type
    assert doc["image"] == "r.io/app"
    assert doc["raw"] == "PROD"  # function calls evaluate
    assert doc["nested"]["endpoint"] == "prod.example.com"
    # without variables: everything stays raw (schema-on-read default)
    raw_doc = loads(text)
    assert raw_doc["name"] == "svc-${env}"


def test_hcl2_expression_subset():
    from railgun_spark.sources.hcl import loads

    text = """
    n        = "${count * 2 + 1}"
    big      = "${count > 2 ? "many" : "few"}"
    name     = "${join("-", ["a", env, tostring(count)])}"
    fmt      = "${format("%s:%d", env, count)}"
    guard    = "${length(env) >= 4 && !flag}"
    pick     = "${coalesce(null, var.registry.host)}"
    idx      = "${ports[1]}"
    neg      = "${-count % 2}"
    bad_fn   = "${mystery(env)}"
    bad_ref  = "${missing + 1}"
    """
    vars = {
        "env": "prod",
        "count": 3,
        "flag": False,
        "registry": {"host": "r.io"},
        "ports": [80, 443],
    }
    doc = loads(text, variables=vars)
    assert doc["n"] == 7
    assert doc["big"] == "many"
    assert doc["name"] == "a-prod-3"
    assert doc["fmt"] == "prod:3"
    assert doc["guard"] is True
    assert doc["pick"] == "r.io"
    assert doc["idx"] == 443
    assert doc["neg"] == -3 % 2
    # unknown function / unresolvable reference: raw, not corrupted
    assert doc["bad_fn"] == "${mystery(env)}"
    assert doc["bad_ref"] == "${missing + 1}"


# ---------------- jdbc passthrough ----------------
def test_split_jdbc_uri():
    from railgun_spark.sources.jdbc import split_jdbc_uri

    url, opts = split_jdbc_uri(
        "jdbc:postgresql://h:5432/db?ssl=true&railgun_table=events"
        "&railgun_fetchsize=10000&railgun_partitionColumn=id"
    )
    assert url == "jdbc:postgresql://h:5432/db?ssl=true"
    assert opts == {"dbtable": "events", "fetchsize": "10000", "partitionColumn": "id"}
    url2, opts2 = split_jdbc_uri("jdbc:awsathena://a.us-east-1.amazonaws.com:443;S3OutputLocation=s3://r/")
    assert url2.startswith("jdbc:awsathena://") and opts2 == {}
    with pytest.raises(ValueError, match="not a jdbc uri"):
        split_jdbc_uri("s3a://bucket/x")


def test_jdbc_reader_wiring(spark):
    from railgun_spark.sources.jdbc import jdbc_reader

    # table xor query is enforced before any connection is attempted
    with pytest.raises(ValueError, match="exactly one"):
        jdbc_reader(spark, "jdbc:postgresql://h/db")
    with pytest.raises(ValueError, match="exactly one"):
        jdbc_reader(spark, "jdbc:postgresql://h/db?railgun_table=t&railgun_query=SELECT 1")
    reader = jdbc_reader(spark, "jdbc:postgresql://h/db?railgun_query=SELECT 1")
    assert reader is not None  # configured; .load() needs the vendor jar
    # catalog route: a jdbc datastore reaches the JDBC source (and fails
    # there, since no driver jar ships in this container)
    cat = Catalog(spark)
    cat.add(DataStore(name="wh", uri="jdbc:postgresql://h/db?railgun_table=t", format="jdbc"))
    with pytest.raises(Exception, match="driver|Driver|ClassNotFound"):
        cat.load_datastore("wh")


# ---------------- property-based format round-trips (SURVEY §5.4) ----------------
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_txt = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126, exclude_characters='"\\,\n'),
    min_size=0,
    max_size=12,
)
# quarters are exact in binary: float round-trips stay byte-identical
_row = st.fixed_dictionaries(
    {
        "a": st.integers(-(2**31), 2**31),
        "b": _txt,
        "c": st.integers(-4000, 4000).map(lambda n: n / 4.0),
        "d": st.booleans(),
    }
)


@given(rows=st.lists(_row, min_size=1, max_size=10))
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_jsonl_roundtrip_property(spark, tmp_path_factory, rows):
    p = str(tmp_path_factory.mktemp("rt") / "rows.jsonl")
    df = spark.createDataFrame([Row(**r) for r in rows])
    formats.write(df, p, fmt="jsonl")
    back = formats.read(spark, p, fmt="jsonl")
    want = sorted((r["a"], r["b"], r["c"], r["d"]) for r in rows)
    got = sorted((r["a"], r["b"], r["c"], r["d"]) for r in back.collect())
    assert got == want


@given(rows=st.lists(_row, min_size=1, max_size=10))
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_csv_roundtrip_property(spark, tmp_path_factory, rows):
    p = str(tmp_path_factory.mktemp("rt") / "rows.csv")
    df = spark.createDataFrame([Row(**r) for r in rows])
    formats.write(df, p, fmt="csv")
    back = formats.read(spark, p, fmt="csv", inferSchema="true")
    assert back.count() == len(rows)
    # csv is string-typed on the wire; compare canonicalized strings
    want = sorted(
        (str(r["a"]), r["b"], f'{r["c"]:g}', str(r["d"]).lower()) for r in rows
    )
    got = sorted(
        (
            str(r["a"]),
            "" if r["b"] is None else str(r["b"]),
            f'{float(r["c"]):g}',
            str(r["d"]).lower(),
        )
        for r in back.collect()
    )
    assert got == want


_ident = st.from_regex(r"[a-z_][a-z0-9_]{0,8}", fullmatch=True)
_hcl_scalar = st.one_of(
    st.integers(-(2**40), 2**40),
    st.integers(-4000, 4000).map(lambda n: n / 4.0),
    st.booleans(),
    st.none(),
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126, exclude_characters="$"),
        max_size=15,
    ),
)
_hcl_value = st.recursive(
    _hcl_scalar,
    lambda v: st.one_of(
        st.lists(v, max_size=4),
        st.dictionaries(_ident, v, max_size=4),
    ),
    max_leaves=12,
)


@given(doc=st.dictionaries(_ident, _hcl_value, min_size=1, max_size=6))
@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
def test_hcl_dumps_loads_roundtrip_property(doc):
    from railgun_spark.sources.hcl import dumps, loads

    assert loads(dumps(doc)) == doc


# pure-codec property round-trip: no Spark in the loop, so run many examples
_bson_scalar = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(-(2**63), 2**63 - 1),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(max_size=20),
    st.binary(max_size=20),
)
_bson_value = st.recursive(
    _bson_scalar,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.text(min_size=1, max_size=8).filter(lambda k: "\x00" not in k),
                        children, max_size=4),
    ),
    max_leaves=12,
)


@given(doc=st.dictionaries(
    st.text(min_size=1, max_size=8).filter(lambda k: "\x00" not in k),
    _bson_value, max_size=6))
@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
def test_bson_codec_property_roundtrip(doc):
    from railgun_spark.sources import bson_codec

    assert bson_codec.loads(bson_codec.dumps(doc)) == doc


def test_real_image_decode_ppm_and_bmp(spark):
    """decode_image genuinely decodes library-free formats end-to-end
    through the mapInPandas pipeline with require_real=True: a hand-built
    P6 PPM (with a header comment) and both bottom-up and top-down
    uncompressed BMPs, pixel values pinned against a numpy reference;
    unsupported codecs and kinds raise."""
    import struct

    import numpy as np
    import pytest as _pytest

    from railgun_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_image,
        extract_features,
    )

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(3, 5, 3), dtype=np.uint8)  # h=3 w=5

    ppm = b"P6\n# comment\n5 3\n255\n" + img.tobytes()

    def bmp_bytes(arr, top_down=False):
        h, w, _ = arr.shape
        stride = (w * 3 + 3) & ~3
        rows = arr if top_down else arr[::-1]
        raster = b"".join(
            row[:, ::-1].tobytes() + b"\x00" * (stride - w * 3) for row in rows
        )
        header = struct.pack(
            "<2sIHHI", b"BM", 14 + 40 + len(raster), 0, 0, 14 + 40
        ) + struct.pack(
            "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, 24, 0,
            len(raster), 2835, 2835, 0, 0,
        )
        return header + raster

    gray = img.astype("float64").mean(axis=2)
    expect = [
        img[:, :, 0].mean(), img[:, :, 1].mean(), img[:, :, 2].mean(),
        gray.mean(), gray[:2, :3].mean(), gray[:2, 2:].mean(),
        gray[1:, :3].mean(), gray[1:, 2:].mean(),
    ]
    for content in (ppm, bmp_bytes(img), bmp_bytes(img, top_down=True)):
        d = decode_image(content, "image")
        assert (d["width"], d["height"]) == (5, 3)
        assert np.allclose(d["feature"], expect)

    # end-to-end through the Arrow pipeline with require_real
    df = spark.createDataFrame(
        [(1, "image", bytearray(ppm), {}), (2, "image", bytearray(bmp_bytes(img)), {})],
        MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r for r in
            extract_features(df, decoder=decode_image, require_real=True).collect()}
    assert len(rows) == 2
    for r in rows.values():
        assert (r["width"], r["height"]) == (5, 3)
        assert np.allclose(r["feature"], expect, atol=1e-4)  # float32 schema

    with _pytest.raises(ValueError, match="codec"):
        decode_image(b"\x89PNG....", "image")  # bogus signature, not a PNG
    with _pytest.raises(ValueError, match="kind"):
        decode_image(ppm, "audio")


def _png_bytes(arr, filters=None, color=None, depth=8, interlace=0, plte=None):
    """Minimal PNG encoder for golden tests: per-scanline filter choice
    (applying the spec's FORWARD filter over the PACKED byte rows, so the
    decoder must invert it), gray/gray+alpha/RGB/RGBA/palette at 8- and
    16-bit plus 1/2/4-bit packed depths, sequential or Adam7."""
    import itertools
    import struct
    import zlib

    import numpy as np

    h, w, ch = arr.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch] if color is None else color
    filt_iter = itertools.cycle(filters or [0])
    fbpp = max(1, ch * depth // 8)

    def pack_row(samples):  # one scanline's samples -> filter-input bytes
        if depth == 8:
            return samples.astype(np.int64)
        if depth == 16:
            out = np.empty(samples.size * 2, dtype=np.int64)
            out[0::2] = samples.astype(np.int64) >> 8
            out[1::2] = samples.astype(np.int64) & 0xFF
            return out
        bits = ((samples.astype(np.uint8)[:, None] >> np.arange(depth - 1, -1, -1)) & 1)
        return np.packbits(bits.reshape(-1).astype(np.uint8)).astype(np.int64)

    def filter_subimage(sub):  # independently-filtered (sub-)image
        out = bytearray()
        prev = None
        for y in range(sub.shape[0]):
            row = pack_row(sub[y].reshape(-1))
            if prev is None:
                prev = np.zeros(len(row), dtype=np.int64)
            ftype = next(filt_iter)
            left = np.concatenate([np.zeros(fbpp, dtype=np.int64), row[:-fbpp]])
            uleft = np.concatenate([np.zeros(fbpp, dtype=np.int64), prev[:-fbpp]])
            if ftype == 0:
                enc = row
            elif ftype == 1:
                enc = row - left
            elif ftype == 2:
                enc = row - prev
            elif ftype == 3:
                enc = row - ((left + prev) >> 1)
            else:  # Paeth
                pa, pb, pc = (
                    np.abs(prev - uleft),
                    np.abs(left - uleft),
                    np.abs(left + prev - 2 * uleft),
                )
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, uleft)
                )
                enc = row - pred
            out += bytes([ftype]) + bytes((enc & 0xFF).astype(np.uint8))
            prev = row
        return out

    if interlace == 0:
        raw = filter_subimage(arr)
    else:  # Adam7 pass extraction
        raw = bytearray()
        for x0, y0, dx, dy in [
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ]:
            sub = arr[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                raw += filter_subimage(sub)

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    plte_chunk = b"" if plte is None else chunk(b"PLTE", bytes(np.asarray(plte, dtype=np.uint8).reshape(-1)))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + plte_chunk
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_real_png_decode(spark):
    """_decode_png inverts every spec filter type (None/Sub/Up/Average/
    Paeth) for RGB/RGBA/gray/gray+alpha, pixel-pinned against the numpy
    source through the quadrant feature math; palette, 16-bit, Adam7,
    truncated and corrupt streams are refused loudly."""
    import numpy as np
    import pytest as _pytest

    from railgun_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _decode_png,
        decode_image,
        extract_features,
    )

    rng = np.random.RandomState(13)
    img = rng.randint(0, 256, size=(6, 5, 3), dtype=np.uint8)  # h=6 w=5

    # every filter type appears, including on the first row (y=0 edge)
    for filters in ([0, 1, 2, 3, 4, 3], [4, 4, 4, 4, 4, 4], [3, 1, 0, 2, 4, 1]):
        assert np.array_equal(_decode_png(_png_bytes(img, filters)), img)

    # RGBA drops alpha; gray and gray+alpha replicate to RGB
    rgba = np.dstack([img, rng.randint(0, 256, size=(6, 5), dtype=np.uint8)])
    assert np.array_equal(_decode_png(_png_bytes(rgba, [4, 3, 2, 1, 0, 4])), img)
    g = rng.randint(0, 256, size=(4, 3, 1), dtype=np.uint8)
    assert np.array_equal(_decode_png(_png_bytes(g, [1, 4, 3, 2])), np.repeat(g, 3, 2))
    ga = np.dstack([g[:, :, 0], rng.randint(0, 256, size=(4, 3), dtype=np.uint8)])
    assert np.array_equal(_decode_png(_png_bytes(ga, [2, 4, 1, 3])), np.repeat(g, 3, 2))

    # palette: indices resolve through PLTE, every filter type in play
    plte = rng.randint(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.randint(0, 16, size=(6, 5, 1), dtype=np.uint8)
    pal_png = _png_bytes(idx, [0, 1, 2, 3, 4, 2], color=3, plte=plte)
    assert np.array_equal(_decode_png(pal_png), plte[idx[:, :, 0]])
    # 4-bit palette and 2-bit gray (packed scanlines)
    pal4 = _png_bytes(idx, [2, 1, 0, 4, 3, 1], color=3, depth=4, plte=plte)
    assert np.array_equal(_decode_png(pal4), plte[idx[:, :, 0]])
    g2 = rng.randint(0, 4, size=(3, 7, 1), dtype=np.uint8)
    got = _decode_png(_png_bytes(g2, [0, 2, 1], color=0, depth=2))
    assert np.array_equal(got, np.repeat(g2.astype(int) * 255 // 3, 3, axis=2))
    # 1-bit gray: the bilevel-fax class
    g1 = rng.randint(0, 2, size=(4, 11, 1), dtype=np.uint8)
    got = _decode_png(_png_bytes(g1, [0, 1, 2, 1], color=0, depth=1))
    assert np.array_equal(got, np.repeat(g1 * 255, 3, axis=2))
    # out-of-range palette index refused, not wrapped
    bad_idx = np.full((2, 2, 1), 5, dtype=np.uint8)
    with _pytest.raises(ValueError, match="palette index"):
        _decode_png(_png_bytes(bad_idx, color=3, plte=plte[:3]))

    # feature math matches the shared (PPM) path exactly
    png = _png_bytes(img, [0, 1, 2, 3, 4, 3])
    ppm = b"P6\n5 6\n255\n" + img.tobytes()
    assert decode_image(png, "image") == decode_image(ppm, "image")

    # end-to-end through the Arrow pipeline with require_real
    df = spark.createDataFrame([(7, "image", bytearray(png), {})], MEDIA_SCHEMA)
    row = extract_features(df, decoder=decode_image, require_real=True).collect()[0]
    assert (row["width"], row["height"]) == (5, 6)
    assert np.allclose(row["feature"], decode_image(png, "image")["feature"], atol=1e-4)

    # Adam7 interlacing: seven independently-filtered passes scatter back
    # to exactly the sequential result, at even and odd dimensions
    for shape in ((6, 5), (16, 16), (9, 13), (1, 1), (3, 2)):
        ai = rng.randint(0, 256, size=(*shape, 3), dtype=np.uint8)
        got = _decode_png(_png_bytes(ai, [0, 1, 2, 3, 4], interlace=1))
        assert np.array_equal(got, ai), shape
    # 16-bit: big-endian samples, scaled to the 0..255 float range
    img16 = rng.randint(0, 65536, size=(5, 4, 3)).astype(np.uint16)
    got = _decode_png(_png_bytes(img16, [4, 3, 2, 1, 0], depth=16))
    assert np.allclose(got, img16.astype("float64") / 257.0)
    g16 = rng.randint(0, 65536, size=(3, 6, 1)).astype(np.uint16)
    got = _decode_png(_png_bytes(g16, [2, 1, 4], depth=16))
    assert np.allclose(got, np.repeat(g16 * (255.0 / 65535.0), 3, axis=2))
    # 16-bit + Adam7 together
    got = _decode_png(_png_bytes(img16, [3, 4], depth=16, interlace=1))
    assert np.allclose(got, img16.astype("float64") / 257.0)

    with _pytest.raises(ValueError, match="palette"):
        _decode_png(_png_bytes(img, color=3))
    with _pytest.raises(ValueError, match="bit depth"):
        idx8 = np.zeros((2, 2, 1), dtype=np.uint16)
        _decode_png(_png_bytes(idx8, color=3, depth=16, plte=plte))  # 16-bit palette
    with _pytest.raises(ValueError, match="truncated PNG"):
        _decode_png(png[:-20])  # IEND cut off
    with _pytest.raises(ValueError, match="corrupt|truncated"):
        # IDAT payload mangled: inflate fails or raster comes up short
        bad = bytearray(png)
        bad[50] ^= 0xFF
        _decode_png(bytes(bad))
    with _pytest.raises(ValueError, match="missing IHDR"):
        _decode_png(png[:8] + png[33:])  # IHDR chunk stripped
    with _pytest.raises(ValueError, match="filter type"):
        raw = np.zeros((1, 2, 3), dtype=np.uint8)
        good = _png_bytes(raw)
        # forge filter byte 9 by re-encoding with a hand-rolled raw stream
        import struct
        import zlib

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 0)
        forged = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x09" + b"\x00" * 6))
            + chunk(b"IEND", b"")
        )
        _decode_png(forged)


def test_real_wav_decode(spark):
    """decode_wav genuinely decodes PCM WAV: a synthesized stereo sine
    wave recovers its rate/channels/duration, the rms pins to A/sqrt(2),
    and the zero-crossing rate to 2*f/rate; float32 WAVE and truncation
    paths covered; end-to-end through extract_audio_features."""
    import struct

    import numpy as np
    import pytest as _pytest

    from railgun_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_wav,
        extract_audio_features,
    )

    rate, freq, amp, dur = 8000, 440, 0.5, 0.5
    t = np.arange(int(rate * dur)) / rate
    mono = (amp * np.sin(2 * np.pi * freq * t)).astype("float64")

    def wav_bytes(x, channels=1, fmt=1):
        if fmt == 1:
            pcm = (np.repeat(x, channels) * 32767).astype("<i2").tobytes()
            bits = 16
        else:
            pcm = np.repeat(x, channels).astype("<f4").tobytes()
            bits = 32
        byterate = rate * channels * bits // 8
        hdr = (
            b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, fmt, channels, rate,
                                    byterate, channels * bits // 8, bits)
            + b"data" + struct.pack("<I", len(pcm))
        )
        return hdr + pcm

    for content, ch in ((wav_bytes(mono), 1), (wav_bytes(mono, 2), 2),
                        (wav_bytes(mono, 1, fmt=3), 1)):
        d = decode_wav(content)
        assert (d["sample_rate"], d["n_channels"]) == (rate, ch)
        assert abs(d["duration_s"] - dur) < 1e-9
        rms, peak, zcr = d["feature"][0], d["feature"][1], d["feature"][2]
        assert abs(rms - amp / np.sqrt(2)) < 1e-3
        assert abs(peak - amp) < 1e-3
        assert abs(zcr - 2 * freq / rate) < 5e-3

    df = spark.createDataFrame(
        [(1, "audio", bytearray(wav_bytes(mono)), {}),
         (2, "image", bytearray(b"P6..."), {})],  # filtered out by kind
        MEDIA_SCHEMA,
    )
    rows = extract_audio_features(df).collect()
    assert len(rows) == 1 and rows[0]["media_id"] == 1
    assert rows[0]["n_samples"] == len(mono)

    with _pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"ID3\x03compressed-mp3-ish")


def test_wav_partial_frame_and_y4m_odd_dims_refused():
    """A WAVE data chunk that is not a whole number of frames is refused
    (not surfaced as numpy's raw buffer error / silently truncated), and
    Y4M subsampled colorspaces refuse odd dimensions instead of decoding
    frames from misaligned offsets."""
    import struct

    import pytest as _pytest

    from railgun_spark.operators.multimodal import _parse_y4m_header, decode_wav

    def wav(data, channels=2, bits=16, fmt=1):
        fmt_body = struct.pack("<HHIIHH", fmt, channels, 8000,
                               8000 * channels * bits // 8, channels * bits // 8, bits)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
                + b"data" + struct.pack("<I", len(data)) + data
                + (b"\x00" if len(data) & 1 else b""))
        return b"RIFF" + struct.pack("<I", len(body)) + body

    with _pytest.raises(ValueError, match="truncated WAVE data"):
        decode_wav(wav(b"\x01\x02\x03\x04\x05\x06", channels=2))  # 1.5 frames
    with _pytest.raises(ValueError, match="truncated WAVE data"):
        decode_wav(wav(b"\x01\x02\x03", channels=1))  # odd bytes, 16-bit mono
    assert decode_wav(wav(b"\x01\x02\x03\x04", channels=2))["n_samples"] == 1

    assert _parse_y4m_header(b"YUV4MPEG2 W4 H2 F25:1 C420\nFRAME\n")[0] == 4
    for hdr in (b"W3 H2 C420", b"W4 H3 C420", b"W3 H3 C420jpeg", b"W5 H2 C422"):
        with _pytest.raises(ValueError, match="odd"):
            _parse_y4m_header(b"YUV4MPEG2 " + hdr + b" F25:1\nFRAME\n")
    # odd dims are fine where no subsampling occurs
    assert _parse_y4m_header(b"YUV4MPEG2 W3 H3 F25:1 C444\nFRAME\n")[0] == 3
    assert _parse_y4m_header(b"YUV4MPEG2 W4 H3 F25:1 C422\nFRAME\n")[1] == 3


def test_real_y4m_video_decode(spark):
    """decode_y4m decodes a synthesized 3-frame 4:2:0 Y4M: dims, fps,
    per-frame luma means, and the inter-frame motion proxy all pin to the
    constructed values; 4:4:4 and error paths covered; end-to-end through
    extract_video_features."""
    import numpy as np
    import pytest as _pytest

    from railgun_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_y4m,
        extract_video_features,
    )

    w, h = 8, 4
    lumas = [10, 60, 200]

    def y4m_bytes(csp=b"420"):
        chroma = w * h // 2 if csp == b"420" else w * h * 2
        out = b"YUV4MPEG2 W8 H4 F25:1 Ip A1:1 C" + csp + b"\n"
        for v in lumas:
            out += b"FRAME\n" + bytes([v]) * (w * h) + b"\x80" * chroma
        return out

    for csp in (b"420", b"444"):
        d = decode_y4m(y4m_bytes(csp))
        assert (d["width"], d["height"], d["n_frames"]) == (w, h, 3)
        assert d["fps"] == 25.0
        assert d["feature"][:4] == [10.0, 60.0, 200.0, 0.0]
        assert abs(d["feature"][4] - np.mean(lumas)) < 1e-9
        assert abs(d["feature"][6] - np.mean([50, 140])) < 1e-9  # motion proxy

    df = spark.createDataFrame(
        [(1, "video", bytearray(y4m_bytes()), {}),
         (2, "audio", bytearray(b"RIFF..."), {})],
        MEDIA_SCHEMA,
    )
    rows = extract_video_features(df).collect()
    assert len(rows) == 1 and rows[0]["n_frames"] == 3

    with _pytest.raises(ValueError, match="YUV4MPEG2"):
        decode_y4m(b"\x00\x00\x01\xba mpeg-ps")
    with _pytest.raises(ValueError, match="truncated"):
        decode_y4m(y4m_bytes()[:-10])


def test_sample_frames_y4m(spark):
    """Real frame sampling decodes every n-th luma plane: a 7-frame Y4M
    sampled every 3 yields frames 0,3,6 with their exact luma means."""
    from railgun_spark.operators.multimodal import MEDIA_SCHEMA, sample_frames_y4m

    w, h = 4, 2
    vals = [5, 15, 25, 35, 45, 55, 65]
    content = b"YUV4MPEG2 W4 H2 F30:1 C420\n" + b"".join(
        b"FRAME\n" + bytes([v]) * (w * h) + b"\x80" * (w * h // 2) for v in vals
    )
    df = spark.createDataFrame([(7, "video", bytearray(content), {})], MEDIA_SCHEMA)
    rows = sorted(
        (r["frame_idx"], r["luma_mean"]) for r in sample_frames_y4m(df, 3).collect()
    )
    assert rows == [(0, 5.0), (3, 35.0), (6, 65.0)]


def test_decode_media_mixed_kinds_and_hardening(spark):
    """decode_media runs a MIXED media frame end-to-end with
    require_real=True (one library-free format per modality); decoder
    hardening: truncated WAV/BMP raise ValueError (not numpy/struct
    noise), sub-4-sample WAV has no NaN features, 4:2:2 Y4M decodes,
    444alpha is rejected as unsupported (not 'bad FRAME marker')."""
    import struct

    import numpy as np
    import pytest as _pytest

    from railgun_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        decode_wav,
        decode_y4m,
        extract_features,
    )

    img = np.full((2, 2, 3), 100, dtype=np.uint8)
    ppm = b"P6\n2 2\n255\n" + img.tobytes()
    pcm = (0.25 * np.sin(np.arange(800) / 10)).astype("<f4").tobytes()
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 3, 1, 8000, 32000, 4, 32)
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    y4m = b"YUV4MPEG2 W2 H2 F10:1 C422\n" + b"FRAME\n" + bytes([50]) * 4 + b"\x80" * 4

    df = spark.createDataFrame(
        [(1, "image", bytearray(ppm), {}), (2, "audio", bytearray(wav), {}),
         (3, "video", bytearray(y4m), {})],
        MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r for r in
            extract_features(df, decoder=decode_media, require_real=True).collect()}
    assert rows[1]["width"] == 2 and rows[2]["width"] == 0 and rows[3]["width"] == 2
    assert all(len(r["feature"]) == 8 for r in rows.values())
    assert not any(np.isnan(r["feature"]).any() for r in rows.values())

    with _pytest.raises(ValueError, match="truncated WAVE"):
        decode_wav(wav[:-7])
    with _pytest.raises(ValueError, match="truncated BMP"):
        decode_media(b"BM\x00\x00", "image")
    # 2-sample PCM: empty rms segments are 0.0, never NaN
    tiny_pcm = struct.pack("<2h", 1000, -1000)
    tiny = (
        b"RIFF" + struct.pack("<I", 36 + 4) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", 4) + tiny_pcm
    )
    assert not any(np.isnan(v) for v in decode_wav(tiny)["feature"])
    with _pytest.raises(ValueError, match="colorspace"):
        decode_y4m(b"YUV4MPEG2 W2 H2 C444alpha\n" + b"FRAME\n" + b"\x00" * 16)
    with _pytest.raises(ValueError, match="kind"):
        decode_media(b"x", "hologram")


def _gif_bytes(idx, palette, interlace=False, local_table=False, min_code=None,
               left=0, top=0, screen=None, bg=0):
    """Test GIF writer over the library's LZW encoder: (h, w) index
    array + (n, 3) palette, optional interlacing and local color table,
    optional sub-canvas placement (left/top offsets on a larger logical
    screen with a background-color index)."""
    import struct

    import numpy as np

    from railgun_spark.geo.serving import _lzw_encode

    h, w = idx.shape
    n = len(palette)
    size_field = max(0, (int(n - 1)).bit_length() - 1)
    table_n = 2 << size_field
    pal = bytearray()
    for r, g, b in palette:
        pal += bytes([r, g, b])
    pal += b"\x00" * (3 * (table_n - n))
    mc = min_code if min_code is not None else max(2, size_field + 1)

    rows = idx
    if interlace:
        order = []
        for y0, dy in ((0, 8), (4, 8), (2, 4), (1, 2)):
            order.extend(range(y0, h, dy))
        rows = idx[np.array(order)]
    lzw = _lzw_encode([int(v) for v in rows.reshape(-1)], mc)

    sw, sh = screen if screen is not None else (w, h)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", sw, sh)
    if local_table:
        out += bytes([0x00, bg, 0])  # no global table
    else:
        out += bytes([0x80 | size_field, bg, 0]) + pal
    # a graphic-control extension to exercise block skipping
    out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    ipacked = (0x40 if interlace else 0) | (0x80 | size_field if local_table else 0)
    out += b"\x2c" + struct.pack("<HHHH", left, top, w, h) + bytes([ipacked])
    if local_table:
        out += pal
    out += bytes([mc])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def test_real_gif_decode(spark):
    """decode_image handles GIF: palette resolution, interlacing, local
    color tables, extension skipping — pixel-pinned against the source
    indices; truncations and bad indices refused."""
    import numpy as np
    import pytest as _pytest

    from railgun_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _decode_gif,
        decode_image,
        extract_features,
    )

    rng = np.random.RandomState(29)
    palette = rng.randint(0, 256, size=(11, 3), dtype=np.uint8)
    idx = rng.randint(0, 11, size=(13, 9), dtype=np.uint8)
    expect = palette[idx].astype("float64")

    for kwargs in ({}, {"interlace": True}, {"local_table": True},
                   {"interlace": True, "local_table": True}, {"min_code": 8}):
        got = _decode_gif(_gif_bytes(idx, palette, **kwargs))
        assert np.array_equal(got, expect), kwargs

    gif = _gif_bytes(idx, palette)
    d = decode_image(gif, "image")
    assert (d["width"], d["height"]) == (9, 13)
    assert abs(d["feature"][3] - expect.mean()) < 1e-9

    df = spark.createDataFrame([(3, "image", bytearray(gif), {})], MEDIA_SCHEMA)
    row = extract_features(df, decoder=decode_image, require_real=True).collect()[0]
    assert np.allclose(row["feature"], d["feature"], atol=1e-4)

    with _pytest.raises(ValueError, match="truncated"):
        _decode_gif(gif[:-8])
    with _pytest.raises(ValueError, match="no image"):
        _decode_gif(gif[:13] + bytes(gif[13 : 13 + 3 * 16]) + b"\x3b")
    # an index pointing past the palette is refused, not wrapped
    small = np.zeros((4, 4), dtype=np.uint8)
    small[0, 0] = 3
    with _pytest.raises(ValueError, match="color table"):
        _decode_gif(_gif_bytes(small, palette[:2], min_code=2))


def test_gif_sub_canvas_placement():
    """A first frame smaller than the logical screen is composited at its
    (left, top) offset onto a background-filled sw x sh canvas — features
    cover the positioned canvas, not the bare sub-image. Out-of-canvas
    placement is refused."""
    import numpy as np
    import pytest as _pytest

    from railgun_spark.operators.multimodal import _decode_gif

    rng = np.random.RandomState(31)
    palette = rng.randint(0, 256, size=(8, 3), dtype=np.uint8)
    idx = rng.randint(0, 8, size=(5, 7), dtype=np.uint8)

    got = _decode_gif(_gif_bytes(idx, palette, left=3, top=2, screen=(16, 10), bg=5))
    assert got.shape == (10, 16, 3)
    expect = np.tile(palette[5].astype("float64"), (10, 16, 1))
    expect[2:7, 3:10] = palette[idx].astype("float64")
    assert np.array_equal(got, expect)

    # no global color table (local only) -> background is black
    got = _decode_gif(
        _gif_bytes(idx, palette, local_table=True, left=1, top=1, screen=(9, 8))
    )
    assert got.shape == (8, 9, 3)
    assert np.array_equal(got[0, 0], np.zeros(3))
    assert np.array_equal(got[1:6, 1:8], palette[idx].astype("float64"))

    # sub-image spilling past the logical screen is malformed
    with _pytest.raises(ValueError, match="logical screen"):
        _decode_gif(_gif_bytes(idx, palette, left=12, top=0, screen=(16, 10)))
    with _pytest.raises(ValueError, match="zero-dimension GIF logical"):
        _decode_gif(_gif_bytes(idx, palette, screen=(0, 10)))


def test_gif89a_animation_decode():
    """decode_gif_frames composites GIF89a animations per the spec's
    graphic-control semantics: transparency never overwrites, disposal 2
    restores the frame rect to background, disposal 3 restores the
    pre-frame canvas; decode_video dispatches GIF and derives fps from
    the GCE delays; refusals for reserved disposal / corrupt GCE / no
    frames."""
    import numpy as np
    import pytest as _pytest

    from railgun_spark.geo.serving import encode_gif_animation, grid_to_gif
    from railgun_spark.operators.multimodal import (
        decode_gif_frames,
        decode_video,
    )

    pal = [(10, 20, 30), (200, 50, 50), (50, 200, 50), (50, 50, 200)]
    P = np.array(pal, dtype="float64")
    f0 = [[1, 1, 2, 2], [1, 1, 2, 2], [3, 3, 1, 1], [3, 3, 1, 1]]
    f1 = [[0, 2], [2, 0]]  # index 0 transparent in this frame
    f2 = [[3, 3], [3, 3]]
    gif = encode_gif_animation(
        [(0, 0, f0), (1, 1, f1), (2, 2, f2)], pal,
        delays_cs=[5, 5, 10],
        disposals=[1, 3, 0],          # keep, restore-to-previous, none
        transparent=[None, 0, None],
        screen=(4, 4),
    )
    frames, delays = decode_gif_frames(gif)
    assert delays == [5, 5, 10]
    want0 = P[np.array(f0)]
    assert np.array_equal(frames[0], want0)
    # frame 1: transparent index-0 cells leave frame-0 pixels visible
    want1 = want0.copy()
    want1[1, 2] = P[2]  # only the opaque (index 2) cells paint
    want1[2, 1] = P[2]
    assert np.array_equal(frames[1], want1)
    # disposal 3 on frame 1 restored the canvas, so frame 2 paints on
    # frame 0's pixels, not frame 1's
    want2 = want0.copy()
    want2[2:4, 2:4] = P[3]
    assert np.array_equal(frames[2], want2)

    # disposal 2 clears the rect to the background color (bg index 0)
    gif2 = encode_gif_animation(
        [(1, 1, f2), (0, 0, [[1]])], pal,
        disposals=[2, 0], screen=(4, 4),
    )
    frames2, _ = decode_gif_frames(gif2)
    bg = np.tile(P[0], (4, 4, 1))
    want = bg.copy()
    want[1:3, 1:3] = P[3]
    assert np.array_equal(frames2[0], want)
    want_after = bg.copy()  # rect restored to background...
    want_after[0, 0] = P[1]  # ...then frame 1 paints one pixel
    assert np.array_equal(frames2[1], want_after)

    # decode_video dispatch + fps from delays: 3 frames / 20 cs = 15 fps
    d = decode_video(gif)
    assert (d["width"], d["height"], d["n_frames"]) == (4, 4, 3)
    assert abs(d["fps"] - 15.0) < 1e-9
    assert abs(d["feature"][2] - frames[0].mean()) < 1e-9

    # the geo mask GIF87a output round-trips as a 1-frame animation
    grid = [[1, 0], [0, 1]]
    mframes, mdelays = decode_gif_frames(grid_to_gif(grid, size=2))
    assert len(mframes) == 1 and mdelays == [0]
    assert np.array_equal(
        mframes[0][:, :, 0], np.array(grid, dtype="float64") * 255
    )

    # interlaced frames inside an animation de-shuffle through the shared
    # image reader: pixel-identical to the sequential encoding
    gif_i = encode_gif_animation(
        [(0, 0, f0), (1, 1, f1), (2, 2, f2)], pal,
        delays_cs=[5, 5, 10], disposals=[1, 3, 0],
        transparent=[None, 0, None], screen=(4, 4), interlace=True,
    )
    frames_i, delays_i = decode_gif_frames(gif_i)
    assert delays_i == delays
    for a, b in zip(frames_i, frames):
        assert np.array_equal(a, b)

    # refusals
    bad = bytearray(gif)
    gp_off = 13 + 12 + 3  # header + 4-entry global table + GCE packed byte
    bad[gp_off] = (bad[gp_off] & ~0x1C) | (5 << 2)
    with _pytest.raises(ValueError, match="reserved disposal"):
        decode_gif_frames(bytes(bad))
    bad2 = bytearray(gif)
    bad2[gp_off - 1] = 3  # GCE sub-block size must be 4
    with _pytest.raises(ValueError, match="graphic-control"):
        decode_gif_frames(bytes(bad2))
    with _pytest.raises(ValueError, match="no frames"):
        decode_gif_frames(gif[:13] + bytes(gif[13:25]) + b"\x3b")
    with _pytest.raises(ValueError, match="truncated"):
        decode_gif_frames(gif[:-8])


def test_gif_animation_frame_sampling(spark):
    """sample_frames_y4m's GIF branch: every_n sampling over composited
    canvases, mixed with Y4M rows in the same batch."""
    import numpy as np

    from railgun_spark.geo.serving import encode_gif_animation
    from railgun_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        sample_frames_y4m,
    )

    pal = [(0, 0, 0), (255, 255, 255)]
    frames = [(0, 0, [[(k + x) % 2 for x in range(2)] for _ in range(2)])
              for k in range(5)]
    gif = encode_gif_animation(frames, pal, screen=(2, 2))
    luma = bytes(range(16))
    y4m = b"YUV4MPEG2 W4 H4 F25:1\n" + b"FRAME\n" + luma + bytes(8)
    df = spark.createDataFrame(
        [(1, "video", bytearray(gif), {}), (2, "video", bytearray(y4m), {})],
        MEDIA_SCHEMA,
    )
    rows = {(r["media_id"], r["frame_idx"]): r["luma_mean"]
            for r in sample_frames_y4m(df, every_n=2).collect()}
    assert set(rows) == {(1, 0), (1, 2), (1, 4), (2, 0)}
    assert abs(rows[(1, 0)] - 127.5) < 1e-9  # half white, half black
    assert abs(rows[(2, 0)] - np.frombuffer(luma, np.uint8).mean()) < 1e-9


def test_resize_images_real(spark):
    """resize_images decodes, bilinear-resamples, and re-encodes PNG in
    one Arrow pass: exact on solid colors and integer upscales of
    2x2 gradients; output decodes through the library's own PNG path;
    non-image rows pass through untouched."""
    import numpy as np
    import pytest as _pytest

    from railgun_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _resize_bilinear,
        decode_image_raster,
        resize_images,
    )

    # kernel sanity: solid color stays solid at any size; identity
    # resize is exact; 2x box-down of a 2x2 checker is the mean
    solid = np.full((5, 7, 3), 120.0)
    assert np.allclose(_resize_bilinear(solid, 3, 9), 120.0)
    rng = np.random.RandomState(17)
    img = rng.randint(0, 256, size=(6, 6, 3)).astype("float64")
    assert np.allclose(_resize_bilinear(img, 6, 6), img)

    # end-to-end through Spark: a PPM and a BMP resize to 4x4 PNGs, the
    # audio row passes through byte-identical
    ppm = b"P6\n8 8\n255\n" + bytes(range(64 * 3))
    solid_ppm = b"P6\n2 2\n255\n" + bytes([10, 200, 30] * 4)
    rows = [
        (1, "image", bytearray(ppm), {"k": "v"}),
        (2, "image", bytearray(solid_ppm), {}),
        (3, "audio", bytearray(b"\x00\x01"), {}),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in resize_images(df, 4, 4).collect()}
    assert bytes(out[3]["content"]) == b"\x00\x01"  # untouched passthrough
    r1 = decode_image_raster(bytes(out[1]["content"]))
    assert r1.shape == (4, 4, 3)
    want = np.rint(_resize_bilinear(
        decode_image_raster(ppm), 4, 4)).clip(0, 255)
    assert np.array_equal(r1, want)
    assert out[1]["meta"] == {"k": "v", "src_w": "8", "src_h": "8",
                              "resize_w": "4", "resize_h": "4"}
    # solid 2x2 upscales to solid 4x4 exactly
    r2 = decode_image_raster(bytes(out[2]["content"]))
    assert np.array_equal(r2, np.tile([10.0, 200.0, 30.0], (4, 4, 1)))

    # codecs outside the matrix still refuse
    with _pytest.raises(Exception):
        resize_images(
            spark.createDataFrame(
                [(9, "image", bytearray(b"RIFF0000WEBP"), {})], MEDIA_SCHEMA
            ), 2, 2,
        ).collect()


def test_resample_audio_real(spark):
    """resample_audio decodes WAV PCM, linear-interpolates, re-encodes
    16-bit WAV: exact on constants and on-grid ramps at integer factors;
    stereo channels preserved independently; compressed audio refused;
    non-audio rows pass through."""
    import struct

    import numpy as np
    import pytest as _pytest

    from railgun_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _encode_wav_pcm16,
        _resample_linear,
        _wav_pcm,
        decode_wav,
        resample_audio,
    )

    # kernel: constants stay constant; 2x upsample of a ramp hits the
    # midpoints exactly (linear interp of a linear signal)
    const = np.full((10, 1), 0.25)
    assert np.allclose(_resample_linear(const, 8000, 12345), 0.25)
    ramp = (np.arange(8, dtype="float64") / 16).reshape(-1, 1)
    up = _resample_linear(ramp, 8000, 16000)
    assert len(up) == 16
    # even outputs land on source samples; odd outputs are midpoints
    # (the final odd position clamps to the last sample)
    assert np.allclose(up[0::2].reshape(-1), ramp.reshape(-1))
    mids = (ramp[1:].reshape(-1) + ramp[:-1].reshape(-1)) / 2
    assert np.allclose(up[1::2][:-1].reshape(-1), mids)
    assert up[-1, 0] == ramp[-1, 0]

    # stereo: channels resample independently (L = -R stays L = -R)
    st = np.stack([np.linspace(-0.5, 0.5, 20), -np.linspace(-0.5, 0.5, 20)], 1)
    got = _resample_linear(st, 8000, 4000)
    assert np.allclose(got[:, 0], -got[:, 1])

    # end-to-end through Spark: constant mono WAV doubles its samples
    data = struct.pack("<h", 64 * 256) * 16  # amplitude 64/128 on-grid
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    rows = [(1, "audio", bytearray(wav), {"a": "b"}),
            (2, "video", bytearray(b"\x07"), {})]
    out = {r["media_id"]: r
           for r in resample_audio(
               spark.createDataFrame(rows, MEDIA_SCHEMA), 16000).collect()}
    assert bytes(out[2]["content"]) == b"\x07"
    d = decode_wav(bytes(out[1]["content"]))
    assert (d["sample_rate"], d["n_samples"]) == (16000, 32)
    assert abs(d["feature"][3] - 64 / 128) < 1e-12  # mean exact
    assert out[1]["meta"] == {"a": "b", "src_rate": "8000",
                              "resample_rate": "16000"}
    # 16-bit encode round-trips on-grid values bit-exactly
    frames, rate, ch = _wav_pcm(_encode_wav_pcm16(
        _wav_pcm(wav)[0], 8000))
    assert np.array_equal(frames, _wav_pcm(wav)[0])

    # codec-bound / corrupt payloads refuse PER ROW (meta records the
    # reason, content passes through) instead of killing the stage —
    # one bad clip in a mixed corpus must not abort the job
    mixed = [(9, "audio", bytearray(b"fLaC\x00"), {}),  # truncated FLAC
             (10, "audio", bytearray(wav), {})]  # good WAV, same batch
    got = {r["media_id"]: r
           for r in resample_audio(
               spark.createDataFrame(mixed, MEDIA_SCHEMA), 16000).collect()}
    assert bytes(got[9]["content"]) == b"fLaC\x00"  # passthrough
    assert "resample_refused" in got[9]["meta"]
    assert got[10]["meta"]["resample_rate"] == "16000"  # sibling resampled
    d2 = decode_wav(bytes(got[10]["content"]))
    assert (d2["sample_rate"], d2["n_samples"]) == (16000, 32)


def test_resample_audio_dispatches_all_pcm_containers(spark):
    """resample_audio decodes FLAC/AIFF/AU through the module's own PCM
    decoders (not just RIFF/WAVE): the same constant signal in all four
    containers resamples to identical 16 kHz WAV bytes (ADVICE r12)."""
    import struct

    import numpy as np

    from railgun_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _flac_verbatim_mono,
        decode_wav,
        resample_audio,
    )

    rate, n, k = 8000, 16, 64  # amplitude k/128 sits on the 16-bit grid
    pcm16 = np.full(n, k * 256, dtype="int64")

    data = struct.pack("<h", k * 256) * n
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    wav = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
           + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(data)) + data)

    flac = _flac_verbatim_mono(pcm16.tolist(), rate)

    be = pcm16.astype(">i2").tobytes()
    exp, mant = 16383 + 63, rate
    while mant < (1 << 63):
        mant <<= 1
        exp -= 1
    f80 = struct.pack(">HII", exp, mant >> 32, mant & 0xFFFFFFFF)
    comm = struct.pack(">hIh", 1, n, 16) + f80
    ssnd = struct.pack(">II", 0, 0) + be
    aiff = (b"FORM" + struct.pack(">I", 4 + 8 + len(comm) + 8 + len(ssnd))
            + b"AIFF" + b"COMM" + struct.pack(">I", len(comm)) + comm
            + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd)

    au = b".snd" + struct.pack(">IIIII", 24, len(be), 3, rate, 1) + be

    rows = [(1, "audio", bytearray(wav), {}),
            (2, "audio", bytearray(flac), {}),
            (3, "audio", bytearray(aiff), {}),
            (4, "audio", bytearray(au), {})]
    out = {r["media_id"]: r
           for r in resample_audio(
               spark.createDataFrame(rows, MEDIA_SCHEMA), 16000).collect()}
    ref = bytes(out[1]["content"])
    for mid in (2, 3, 4):
        assert out[mid]["meta"] == {"src_rate": "8000",
                                    "resample_rate": "16000"}, mid
        assert bytes(out[mid]["content"]) == ref, mid
    d = decode_wav(ref)
    assert (d["sample_rate"], d["n_samples"]) == (16000, 32)
    assert abs(d["feature"][3] - k / 128) < 1e-12


def _lzw_encode_tiff(data: bytes) -> bytes:
    """From-scratch TIFF 6.0 §13 LZW encoder (golden pair for
    _lzw_decode_tiff): MSB-first packing, EarlyChange width bumps (the
    write width grows when the NEXT code to assign reaches 2^w - 1),
    Clear emitted at start and when the table reaches code 4094."""
    CLEAR, EOI = 256, 257
    res = bytearray()
    acc = accbits = 0

    def put(code, nbits):
        nonlocal acc, accbits
        acc = (acc << nbits) | code
        accbits += nbits
        while accbits >= 8:
            res.append((acc >> (accbits - 8)) & 0xFF)
            accbits -= 8
            acc &= (1 << accbits) - 1

    table = {bytes([i]): i for i in range(256)}
    next_code, nbits = 258, 9
    put(CLEAR, nbits)
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        put(table[w], nbits)
        table[wc] = next_code
        next_code += 1
        if next_code == (1 << nbits) - 1 and nbits < 12:
            nbits += 1
        if next_code == 4094:
            put(CLEAR, nbits)
            table = {bytes([i]): i for i in range(256)}
            next_code, nbits = 258, 9
        w = bytes([ch])
    if w:
        put(table[w], nbits)
    put(EOI, nbits)
    if accbits:
        res.append((acc << (8 - accbits)) & 0xFF)
    return bytes(res)


def _tiff_bytes(arr, little=True, packbits=False, rows_per_strip=None,
                photometric=None, lzw=False, predictor=1):
    """Test TIFF writer: (h, w) gray or (h, w, 3) RGB uint8, strip
    layout, optional PackBits or LZW compression, optional horizontal
    predictor, either byte order. Layout is deterministic: header, IFD,
    extra value arrays (bits / counts / offsets, in that order), then
    strip data."""
    import struct

    import numpy as np

    e = "<" if little else ">"
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, spp = arr.shape
    rows_per_strip = rows_per_strip or h
    photometric = photometric if photometric is not None else (1 if spp == 1 else 2)
    if predictor == 2:
        # horizontal differencing: store per-channel deltas along each row
        prev = np.concatenate(
            [np.zeros((h, 1, spp), dtype=np.uint8), arr[:, :-1, :]], axis=1
        )
        arr = (arr.astype(np.int64) - prev.astype(np.int64)) % 256
        arr = arr.astype(np.uint8)

    def packbits_encode(row_bytes):
        out = bytearray()
        i = 0
        while i < len(row_bytes):
            run = 1
            while (i + run < len(row_bytes) and run < 128
                   and row_bytes[i + run] == row_bytes[i]):
                run += 1
            if run >= 3:
                out += bytes([257 - run, row_bytes[i]])
                i += run
            else:
                lit = i
                while (i < len(row_bytes)
                       and (i + 2 >= len(row_bytes)
                            or not (row_bytes[i] == row_bytes[i + 1] == row_bytes[i + 2]))
                       and i - lit < 128):
                    i += 1
                out += bytes([i - lit - 1]) + row_bytes[lit:i]
        return bytes(out)

    strips = []
    for y0 in range(0, h, rows_per_strip):
        chunk = arr[y0 : y0 + rows_per_strip].tobytes()
        if packbits:
            strips.append(packbits_encode(chunk))
        elif lzw:
            strips.append(_lzw_encode_tiff(chunk))
        else:
            strips.append(chunk)
    n_strips = len(strips)

    n_tags = 9 + (1 if predictor == 2 else 0)
    ifd_off = 8
    extras_off = ifd_off + 2 + 12 * n_tags + 4
    # extras, fixed order: bits (spp SHORTs if > 2 values), counts and
    # offsets (LONG arrays if > 1 strip)
    bits_off = extras_off
    bits_extra = spp * 2 if spp > 2 else 0
    counts_off = bits_off + bits_extra
    counts_extra = 4 * n_strips if n_strips > 1 else 0
    offsets_off = counts_off + counts_extra
    offsets_extra = 4 * n_strips if n_strips > 1 else 0
    data_off = offsets_off + offsets_extra

    strip_offs = []
    cur = data_off
    for sdata in strips:
        strip_offs.append(cur)
        cur += len(sdata)

    def tag(tid, ttype, values, extra_off_val):
        fmt = {3: "H", 4: "I"}[ttype]
        size = {3: 2, 4: 4}[ttype] * len(values)
        head = struct.pack(e + "HHI", tid, ttype, len(values))
        if size <= 4:
            inline = struct.pack(e + fmt * len(values), *values)
            return head + inline + b"\x00" * (4 - size), b""
        payload = struct.pack(e + fmt * len(values), *values)
        return head + struct.pack(e + "I", extra_off_val), payload

    parts = [
        tag(256, 3, [w], 0),
        tag(257, 3, [h], 0),
        tag(258, 3, [8] * spp, bits_off),
        tag(259, 3, [32773 if packbits else (5 if lzw else 1)], 0),
        tag(262, 3, [photometric], 0),
        tag(273, 4, strip_offs, offsets_off),
        tag(277, 3, [spp], 0),
        tag(278, 3, [rows_per_strip], 0),
    ]
    if predictor == 2:
        parts.append(tag(317, 3, [2], 0))
    # reorder extras payloads to the declared layout: bits, counts, offsets
    tag_bytes = b"".join(p[0] for p in parts)
    extras = parts[2][1]  # bits
    counts_part = tag(279, 4, [len(sdata) for sdata in strips], counts_off)
    # 279 must sit in ascending-ish tag order for realism; rebuild with it
    parts = parts[:6] + [counts_part] + parts[6:]
    assert len(parts) == n_tags
    tag_bytes = b"".join(p[0] for p in parts)
    extras = parts[2][1] + counts_part[1] + parts[5][1]
    ifd = struct.pack(e + "H", n_tags) + tag_bytes + struct.pack(e + "I", 0)
    header = (b"II\x2a\x00" if little else b"MM\x00\x2a") + struct.pack(e + "I", ifd_off)
    out = bytearray(header + ifd + extras)
    assert len(out) == data_off, (len(out), data_off)
    for sdata in strips:
        out += sdata
    return bytes(out)


def test_real_tiff_decode(spark):
    """decode_image handles strip TIFF: both byte orders, gray (incl.
    WhiteIsZero inversion), RGB, PackBits, LZW (+ horizontal predictor),
    multi-strip; tiled/JPEG-compressed and truncations refused."""
    import numpy as np
    import pytest as _pytest

    from railgun_spark.operators.multimodal import (
        _decode_tiff,
        _packbits_decode,
        decode_image,
    )

    rng = np.random.RandomState(31)
    rgb = rng.randint(0, 256, size=(11, 7, 3), dtype=np.uint8)
    gray = rng.randint(0, 256, size=(6, 9), dtype=np.uint8)

    for little in (True, False):
        assert np.array_equal(_decode_tiff(_tiff_bytes(rgb, little=little)),
                              rgb.astype("float64"))
        got = _decode_tiff(_tiff_bytes(gray, little=little))
        assert np.array_equal(got, np.repeat(gray[:, :, None], 3, 2))
    # WhiteIsZero inverts
    got = _decode_tiff(_tiff_bytes(gray, photometric=0))
    assert np.array_equal(got, np.repeat((255 - gray)[:, :, None], 3, 2))
    # PackBits + multi-strip (with a run-heavy image to exercise repeats)
    runs = np.repeat(rng.randint(0, 256, size=(8, 3), dtype=np.uint8), 5, axis=1)
    for pb in (False, True):
        got = _decode_tiff(_tiff_bytes(runs, packbits=pb, rows_per_strip=3))
        assert np.array_equal(got, np.repeat(runs[:, :, None], 3, 2)), pb
    got = _decode_tiff(_tiff_bytes(rgb, packbits=True, rows_per_strip=4))
    assert np.array_equal(got, rgb.astype("float64"))

    d = decode_image(_tiff_bytes(rgb), "image")
    assert (d["width"], d["height"]) == (7, 11)
    assert abs(d["feature"][3] - rgb.astype("float64").mean(axis=2).mean()) < 1e-9

    # LZW (§13): run-heavy + random images, gray + RGB, multi-strip, and
    # the horizontal predictor (§14) — byte-exact round-trips through the
    # from-scratch golden-pair encoder
    from railgun_spark.operators.multimodal import _lzw_decode_tiff

    for img in (rgb, gray, runs):
        want = (np.repeat(img[:, :, None], 3, 2) if img.ndim == 2
                else img).astype("float64")
        assert np.array_equal(_decode_tiff(_tiff_bytes(img, lzw=True)), want)
        assert np.array_equal(
            _decode_tiff(_tiff_bytes(img, lzw=True, predictor=2)), want
        )
    got = _decode_tiff(_tiff_bytes(rgb, lzw=True, rows_per_strip=4))
    assert np.array_equal(got, rgb.astype("float64"))
    # gradient image: the predictor turns it into runs — both paths agree
    grad = np.tile(np.arange(120, dtype=np.uint8), (16, 1))
    assert np.array_equal(
        _decode_tiff(_tiff_bytes(grad, lzw=True, predictor=2)),
        np.repeat(grad[:, :, None], 3, 2),
    )
    # stress: ~23 KB of random bytes crosses every code width (9->12 bits,
    # EarlyChange) AND the 4094-entry mid-stream Clear
    big = rng.randint(0, 256, size=(64, 120, 3), dtype=np.uint8)
    stream = _lzw_encode_tiff(big.tobytes())
    assert _lzw_decode_tiff(stream, big.size) == big.tobytes()
    assert np.array_equal(_decode_tiff(_tiff_bytes(big, lzw=True)),
                          big.astype("float64"))

    with _pytest.raises(ValueError, match="truncated"):
        _decode_tiff(_tiff_bytes(rgb)[:-10])
    # LZW refusals: truncated stream, out-of-range code
    with _pytest.raises(ValueError, match="truncated TIFF LZW"):
        _lzw_decode_tiff(stream[: len(stream) // 2], big.size)
    with _pytest.raises(ValueError, match="corrupt TIFF LZW"):
        # 9-bit code 300 right after the initial Clear (table has 258)
        first = (256 << 9) | 300
        _lzw_decode_tiff(bytes([first >> 10, (first >> 2) & 0xFF,
                                (first & 3) << 6]), 4)
    # JPEG-in-TIFF still refused by name
    with _pytest.raises(ValueError, match="compression"):
        bad = bytearray(_tiff_bytes(rgb))
        tiff = _tiff_bytes(rgb)
        import struct as _s
        for t in range(9):
            pos = 8 + 2 + 12 * t
            tid = _s.unpack_from("<H", tiff, pos)[0]
            if tid == 259:
                bad[pos + 8] = 7  # TIFF-JPEG
        _decode_tiff(bytes(bad))
    # PackBits under-run refused
    with _pytest.raises(ValueError, match="PackBits"):
        _packbits_decode(b"\x02abc", 10)
    # overlong strip refused (fail closed, not silent truncation): both the
    # trailing-data-codes-where-EOI-belongs shape and the entry that
    # crosses the declared strip size
    with _pytest.raises(ValueError, match="overlong"):
        _lzw_decode_tiff(_lzw_encode_tiff(b"x" * 20), 10)
    with _pytest.raises(ValueError, match="overlong"):
        _lzw_decode_tiff(_lzw_encode_tiff(b"ab" * 10), 19)


def test_lzw_tiff_spec_legal_tails():
    """Spec-legal strip tails are NOT corrupt (ADVICE r12): a ClearCode
    (or several) between the last data code and EOI, and an omitted EOI
    when fewer than nbits padding bits remain; a trailing DATA code
    still refuses as overlong."""
    import pytest as _pytest

    from railgun_spark.operators.multimodal import _lzw_decode_tiff

    def pack(codes, widths):
        acc = accbits = 0
        out = bytearray()
        for code, w in zip(codes, widths):
            acc = (acc << w) | code
            accbits += w
            while accbits >= 8:
                out.append((acc >> (accbits - 8)) & 0xFF)
                accbits -= 8
                acc &= (1 << accbits) - 1
        if accbits:
            out.append((acc << (8 - accbits)) & 0xFF)
        return bytes(out)

    # Clear, 'A', EOI — the baseline
    assert _lzw_decode_tiff(pack([256, 65, 257], [9, 9, 9]), 1) == b"A"
    # Clear, 'A', Clear, EOI — encoder emits a Clear in tail position
    assert _lzw_decode_tiff(pack([256, 65, 256, 257], [9] * 4), 1) == b"A"
    # two tail Clears before EOI
    assert _lzw_decode_tiff(pack([256, 65, 256, 256, 257], [9] * 5), 1) == b"A"
    # omitted EOI: Clear, 'A' = 18 bits -> 3 bytes, 6 padding bits < 9
    assert _lzw_decode_tiff(pack([256, 65], [9, 9]), 1) == b"A"
    # Clear then omitted EOI: 27 bits -> 4 bytes, 5 padding bits < 9
    assert _lzw_decode_tiff(pack([256, 65, 256], [9] * 3), 1) == b"A"
    # a DATA code in tail position is still overlong
    with _pytest.raises(ValueError, match="overlong"):
        _lzw_decode_tiff(pack([256, 65, 66, 257], [9] * 4), 1)
    # and a data code after a tail Clear too (width reset to 9)
    with _pytest.raises(ValueError, match="overlong"):
        _lzw_decode_tiff(pack([256, 65, 256, 66, 257], [9] * 5), 1)


def test_encode_gif_animation_validates_inputs():
    """encode_gif_animation fails on the PRODUCING side for empty frames
    and out-of-table palette indices (ADVICE r12) instead of emitting a
    GIF its paired decoder rejects as input corruption."""
    import pytest as _pytest

    from railgun_spark.geo.serving import encode_gif_animation

    pal = [(0, 0, 0), (255, 255, 255)]
    with _pytest.raises(ValueError, match="empty"):
        encode_gif_animation([(0, 0, [])], pal)
    with _pytest.raises(ValueError, match="empty"):
        encode_gif_animation([(0, 0, [[]])], pal)
    with _pytest.raises(ValueError, match="outside"):
        encode_gif_animation([(0, 0, [[0, 2]])], pal)
    with _pytest.raises(ValueError, match="outside"):
        encode_gif_animation([(0, 0, [[0, 0]]), (0, 0, [[-1]])], pal)
    # the valid boundary index still encodes
    assert encode_gif_animation([(0, 0, [[0, 1]])], pal)[:6] == b"GIF89a"


def test_real_pgm_pbm_decode():
    """PGM (P5) and PBM (P4, packed bits, 1=black) complete the netpbm
    family; header comments, non-multiple-of-8 widths, truncation."""
    import numpy as np
    import pytest as _pytest

    from railgun_spark.operators.multimodal import decode_image

    rng = np.random.RandomState(41)
    g = rng.randint(0, 256, size=(5, 11), dtype=np.uint8)
    pgm = b"P5\n# c\n11 5\n255\n" + g.tobytes()
    d = decode_image(pgm, "image")
    assert (d["width"], d["height"]) == (11, 5)
    assert abs(d["feature"][3] - g.mean()) < 1e-9

    bits = rng.randint(0, 2, size=(4, 11), dtype=np.uint8)
    packed = np.packbits(bits, axis=1)  # pads rows to whole bytes
    pbm = b"P4\n11 4\n" + packed.tobytes()
    d = decode_image(pbm, "image")
    assert (d["width"], d["height"]) == (11, 4)
    assert abs(d["feature"][3] - ((1 - bits) * 255).mean()) < 1e-9

    with _pytest.raises(ValueError, match="truncated PGM"):
        decode_image(pgm[:-10], "image")
    with _pytest.raises(ValueError, match="truncated PBM"):
        decode_image(pbm[:-2], "image")
    # 16-bit PGM decodes since r11 (test_real_netpbm_ascii_and_16bit);
    # an impossible maxval still refuses
    with _pytest.raises(ValueError, match="maxval"):
        decode_image(b"P5\n2 2\n70000\n" + b"\x00" * 8, "image")


def test_real_bmp_palette_and_rle8():
    """8-bit palette BMPs: uncompressed (both row orders) and RLE8
    (encoded runs, literal runs with word padding, end-of-line /
    end-of-bitmap escapes, delta skips land on zero-filled cells) decode
    to the palette-resolved RGB; truncation, top-down RLE, and
    out-of-range palette indexes refuse."""
    import struct

    import numpy as np
    import pytest as _pytest

    from railgun_spark.operators.multimodal import _decode_bmp

    rng = np.random.RandomState(11)
    h, w = 5, 7
    n_colors = 16
    pal = rng.randint(0, 256, size=(n_colors, 3), dtype=np.uint8)  # RGB
    idx = rng.randint(0, n_colors, size=(h, w), dtype=np.uint8)
    idx[2, :4] = 9  # a real run for RLE

    def header(data_len, comp, data_off):
        return struct.pack(
            "<2sIHHI", b"BM", data_off + data_len, 0, 0, data_off
        ) + struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 8, comp, data_len, 2835, 2835,
            n_colors, 0,
        ) + b"".join(bytes([r[2], r[1], r[0], 0]) for r in pal)  # BGRx

    data_off = 14 + 40 + 4 * n_colors

    # uncompressed 8-bit, bottom-up
    stride = (w + 3) & ~3
    raster = b"".join(
        row.tobytes() + b"\x00" * (stride - w) for row in idx[::-1]
    )
    bmp = header(len(raster), 0, data_off) + raster
    assert np.array_equal(_decode_bmp(bmp), pal[idx].astype("float64"))

    # RLE8: encode each bottom-up row as (1, v) pairs with one real run,
    # a literal run (word-padded), EOL escapes, EOB at the end
    def rle_row(row):
        out = bytearray()
        i = 0
        while i < len(row):
            run = 1
            while i + run < len(row) and run < 255 and row[i + run] == row[i]:
                run += 1
            if run >= 2:
                out += bytes([run, row[i]])
                i += run
            else:
                j = i + 1
                while j < len(row) and (j + 1 >= len(row) or row[j] != row[j + 1]):
                    j += 1
                lit = row[i:j]
                if len(lit) >= 3:
                    out += bytes([0, len(lit)]) + lit.tobytes()
                    if len(lit) & 1:
                        out += b"\x00"
                else:
                    for v in lit:
                        out += bytes([1, v])
                i = j
        return bytes(out)

    rle = b"".join(rle_row(r) + b"\x00\x00" for r in idx[::-1]) + b"\x00\x01"
    bmp_rle = header(len(rle), 1, data_off) + rle
    assert np.array_equal(_decode_bmp(bmp_rle), pal[idx].astype("float64"))

    # delta escape: skip cells stay index 0 (spec: unassigned -> 0)
    delta = bytes([2, 5]) + b"\x00\x02" + bytes([3, 1]) + bytes([2, 7]) + b"\x00\x01"
    bmp_delta = header(len(delta), 1, data_off) + delta
    got = _decode_bmp(bmp_delta)
    want_idx = np.zeros((h, w), dtype=np.uint8)
    want_idx[h - 1, :2] = 5          # bottom row, first run
    want_idx[h - 2, 5:7] = 7         # after delta dx=3 dy=1
    assert np.array_equal(got, pal[want_idx].astype("float64"))

    # refusals
    with _pytest.raises(ValueError, match="truncated BMP RLE8"):
        _decode_bmp(bmp_rle[:-3])
    with _pytest.raises(ValueError, match="top-down"):
        hh = bytearray(bmp_rle)
        struct.pack_into("<i", hh, 22, -h)
        _decode_bmp(bytes(hh))
    with _pytest.raises(ValueError, match="palette index"):
        bad = bytearray(bmp)
        bad[data_off] = n_colors + 3  # index past the color table
        _decode_bmp(bytes(bad))
    with _pytest.raises(ValueError, match="color table"):
        _decode_bmp(bmp[: data_off - 8])
    # crafted non-positive dimensions refuse with the 'corrupt BMP' stem
    # (not a numpy 'negative dimensions' ValueError that would bucket as
    # 'other' in classify_media_refusal)
    with _pytest.raises(ValueError, match="non-positive dimensions"):
        neg = bytearray(bmp)
        struct.pack_into("<i", neg, 18, -w)
        _decode_bmp(bytes(neg))
    with _pytest.raises(ValueError, match="non-positive dimensions"):
        zero = bytearray(bmp)
        struct.pack_into("<i", zero, 22, 0)
        _decode_bmp(bytes(zero))


def test_real_netpbm_ascii_and_16bit():
    """Completes netpbm: ASCII P1 (abutting digits + comments), P2/P3
    (maxval scaling), and 16-bit binary P5/P6 (big-endian samples scaled
    into 0..255); truncation and out-of-maxval samples refuse."""
    import numpy as np
    import pytest as _pytest

    from railgun_spark.operators.multimodal import decode_image

    # P1: digits may abut; 1 = black
    p1 = b"P1\n# comment\n4 2\n0110\n1 0 0 1\n"
    got = decode_image(p1, "image")
    bits = np.array([[0, 1, 1, 0], [1, 0, 0, 1]])
    assert got["width"] == 4 and got["height"] == 2
    # feature[3] is the gray mean: 1=black -> 0, 0=white -> 255
    assert abs(got["feature"][3] - ((1 - bits) * 255).mean()) < 1e-9

    # P2 with maxval 15: values scale by 255/15 = 17
    vals = [[0, 5, 15], [10, 1, 7]]
    p2 = ("P2\n3 2\n15\n" + "\n".join(" ".join(map(str, r)) for r in vals)).encode()
    got = decode_image(p2, "image")
    assert abs(got["feature"][3] - np.array(vals).mean() * 17.0) < 1e-9

    # P3 RGB roundtrip at maxval 255 (identity scaling)
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(2, 3, 3), dtype=np.uint8)
    p3 = ("P3\n3 2\n255\n"
          + " ".join(str(v) for v in img.flatten())).encode()
    got = decode_image(p3, "image")
    assert abs(got["feature"][0] - img[:, :, 0].mean()) < 1e-9
    assert abs(got["feature"][2] - img[:, :, 2].mean()) < 1e-9

    # 16-bit P5: big-endian, scaled by 255/65535
    g16 = rng.randint(0, 65536, size=(2, 4), dtype=np.uint16)
    p5 = b"P5\n4 2\n65535\n" + g16.astype(">u2").tobytes()
    got = decode_image(p5, "image")
    assert abs(got["feature"][3] - g16.mean() * (255.0 / 65535.0)) < 1e-6

    # 16-bit P6
    c16 = rng.randint(0, 65536, size=(2, 2, 3), dtype=np.uint16)
    p6 = b"P6\n2 2\n65535\n" + c16.astype(">u2").tobytes()
    got = decode_image(p6, "image")
    assert abs(got["feature"][1] - c16[:, :, 1].mean() * (255.0 / 65535.0)) < 1e-6

    # refusals
    with _pytest.raises(ValueError, match="truncated P1"):
        decode_image(b"P1\n4 2\n0110\n", "image")
    with _pytest.raises(ValueError, match="truncated P3"):
        decode_image(b"P3\n3 2\n255\n1 2 3\n", "image")
    with _pytest.raises(ValueError, match="sample > maxval"):
        decode_image(b"P2\n2 1\n15\n3 99\n", "image")
    with _pytest.raises(ValueError, match="truncated PGM"):
        decode_image(b"P5\n4 2\n65535\n" + bytes(5), "image")
    with _pytest.raises(ValueError, match="non-binary"):
        decode_image(b"P1\n2 1\n07\n", "image")
