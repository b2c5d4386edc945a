"""Data tiles of small layers are answered from one driver-side Arrow
snapshot per layer (geo.serving.LayerSnapshot, Catalog._snapshots)
instead of one Spark job per tile miss: same bytes as the Spark path,
rebuilt on every invalidation, and off for user dfl tiles and layers
over spark.sql.autoBroadcastJoinThreshold."""

from __future__ import annotations

import datetime
import decimal
import json
import os
import time
from contextlib import contextmanager

import pytest

import railgun_spark.geo.serving as serving
from railgun_spark.catalog import Catalog, DataStore, Layer
from railgun_spark.geo.tiles import tile_bbox

TILE = (10, 292, 391)
OTHER_TILE = (10, 293, 391)  # a distinct buffered bbox over the same points
THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
SCHEMA = (
    "id int, lon double, lat double, ts timestamp, d date, dec decimal(10,2), "
    "arr array<int>, st struct<a:int,b:string>, m map<string,int>, "
    "bin binary, s string"
)


@pytest.fixture()
def layer_path(spark, tmp_path):
    """A parquet layer of every column kind a feature carries: points in
    TILE, points with a null or NaN coordinate inside its bbox, and one
    far away."""
    w, s, e, n = tile_bbox(*TILE)
    rows = []
    for i in range(12):
        lon = w + (e - w) * (i % 4 + 0.5) / 4
        lat = s + (n - s) * (i // 4 + 0.5) / 3
        if i == 3:
            lon = None
        if i == 5:
            lat = None
        if i == 7:
            lon = float("nan")
        rows.append((
            i, lon, lat, datetime.datetime(2024, 1, 2, 3, 4, 5, 6789 * i),
            datetime.date(2024, 2, i + 1), decimal.Decimal(f"{i}.25"),
            [i, None, 2 * i], (i, f"s{i}"), {f"k{i}": i}, bytes([i, 255]),
            None if i % 4 == 0 else f"str{i}",
        ))
    rows.append((99, 10.0, 50.0, None, None, None, None, None, None, None, "far"))
    path = str(tmp_path / "pts.parquet")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(path)
    return path


def _catalog(spark, path: str) -> Catalog:
    cat = Catalog(spark)
    cat.add(DataStore(name="pts", uri=path, format="parquet"))
    cat.add(Layer(name="l", datastore="pts"))
    return cat


@contextmanager
def _threshold(spark, value: str):
    before = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, value)
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, before)


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` runs on this thread, by statusTracker."""
    sc = spark.sparkContext
    group = f"tile-snapshot-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _snapshot(cat: Catalog):
    """The layer's entry in the snapshot memo (None: over the gate)."""
    return cat._snapshots._entries[("l",)][2]


def _bodies(spark, path: str) -> tuple[list[bytes], object]:
    """The data-tile bodies of TILE (all, ?limit=2, ?limit=0) and the
    layer's snapshot entry they were served under."""
    pytest.importorskip("flask")
    from railgun_spark.server import create_app

    cat = _catalog(spark, path)
    client = create_app(cat).test_client()
    z, x, y = TILE
    out = []
    for query in ("", "?limit=2", "?limit=0"):
        r = client.get(f"/layers/l/tiles/data/{z}/{x}/{y}.json{query}")
        assert r.status_code == 200
        out.append(r.data)
    return out, _snapshot(cat)


def test_snapshot_tile_body_matches_spark_path(spark, layer_path):
    snapshot, snap = _bodies(spark, layer_path)
    with _threshold(spark, "-1"):
        on_spark, none = _bodies(spark, layer_path)
    assert isinstance(snap, serving.LayerSnapshot) and none is None
    assert snapshot == on_spark
    doc = json.loads(snapshot[0])
    # the null and NaN coordinates are out, the far point too
    assert sorted(f["properties"]["id"] for f in doc["features"]) == [
        0, 1, 2, 4, 6, 8, 9, 10, 11]
    assert json.loads(snapshot[1])["numberOfFeatures"] == 2
    assert json.loads(snapshot[2])["numberOfFeatures"] == 0


def test_snapshot_gate(spark, layer_path):
    cat = _catalog(spark, layer_path)
    df = cat.layer_frame("l")
    snap = serving.layer_snapshot(df)
    assert isinstance(snap, serving.LayerSnapshot) and snap.table.num_rows == 13
    with pytest.raises(ValueError):
        serving.tile_data(snap, *TILE, user_dfl="filter(@, '@id > 5')")
    with _threshold(spark, "-1"):
        assert serving.layer_snapshot(df) is None
    # unknown stats (a Python-side frame): Spark's 8 EiB default is over
    assert serving.layer_snapshot(spark.createDataFrame([(1.0, 2.0)], "lon double, lat double")) is None
    # coordinates Spark compares by its own casts stay on Spark
    assert serving.layer_snapshot(df.withColumn("lon", df["lon"].cast("string"))) is None
    assert serving.layer_snapshot(df.withColumn("lat", df["lat"].cast("decimal(12,6)"))) is None
    assert serving.layer_snapshot(df.drop("lat")) is None
    # integer and float coordinates compare as float64, as Spark casts them
    assert serving.layer_snapshot(df.withColumn("lon", df["lon"].cast("float"))) is not None


def test_snapshot_rebuilt_on_every_invalidation(spark, layer_path, monkeypatch):
    cat = _catalog(spark, layer_path)
    calls = {"n": 0}
    real = serving.layer_snapshot

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(serving, "layer_snapshot", counting)

    def miss(tile=TILE, **kw):
        return cat.layer_tile_features("l", *tile, limit=-1, **kw)

    assert len(miss()) == 9 and calls["n"] == 1
    # a second distinct tile reuses the layer's snapshot
    miss(OTHER_TILE)
    assert calls["n"] == 1 and len(cat._snapshots) == 1
    # a user dfl tile never reads the snapshot
    miss(user_dfl="filter(@, '@id > 5')")
    assert calls["n"] == 1

    # source rewrite (mtime)
    os.utime(layer_path, (os.path.getmtime(layer_path) + 5,) * 2)
    miss()
    assert calls["n"] == 2
    # Layer update
    cat.update(Layer(name="l", datastore="pts"))
    miss()
    assert calls["n"] == 3
    # DataStore update
    cat.update(DataStore(name="pts", uri=layer_path, format="parquet"))
    miss()
    assert calls["n"] == 4
    # TTL expiry
    cat.ttl_seconds = 0.01
    time.sleep(0.02)
    miss()
    assert calls["n"] == 5
    cat.ttl_seconds = 300.0

    # a build that straddles an invalidation goes to its caller but is
    # not stored; the next miss builds under the new definition
    cat.update(Layer(name="l", datastore="pts"))

    def bumping(*a, **kw):
        calls["n"] += 1
        cat.update(Layer(name="l", datastore="pts"))
        return real(*a, **kw)

    monkeypatch.setattr(serving, "layer_snapshot", bumping)
    assert len(miss()) == 9 and calls["n"] == 6
    assert len(cat._snapshots) == 0
    monkeypatch.setattr(serving, "layer_snapshot", counting)
    miss()
    assert calls["n"] == 7 and len(cat._snapshots) == 1


def test_spark_jobs_per_tile_miss(spark, layer_path):
    cat = _catalog(spark, layer_path)
    tiles = [(10, 292 + dx, 391 + dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]

    def miss(k, **kw):
        return lambda: cat.layer_tile_features("l", *tiles[k], limit=-1, **kw)

    _jobs(spark, miss(0))  # the first miss reads the layer's snapshot
    assert _jobs(spark, miss(1)) == 0
    # a user dfl tile: one filter + collect job per miss
    assert _jobs(spark, miss(2, user_dfl="filter(@, '@id > 5')")) == 1
    # over the gate: every miss is a job
    with _threshold(spark, "-1"):
        cat.update(Layer(name="l", datastore="pts"))
        _jobs(spark, miss(3))
        assert _jobs(spark, miss(4)) == 1
        assert _jobs(spark, miss(5)) == 1
        assert _snapshot(cat) is None


def test_snapshot_miss_opens_one_tile_data_span(spark, layer_path):
    from perfbench import layers
    from perfbench.trace import Tracer

    cat = _catalog(spark, layer_path)
    tracer = Tracer()
    try:
        layers.install(tracer, type(spark.range(1)))
        for tile in (TILE, OTHER_TILE, TILE):
            cat.layer_tile_features("l", *tile, limit=-1)
    finally:
        tracer.unpatch()
    names = [s.name for s in tracer.spans]
    assert names.count("catalog.layer_tile_features") == 3
    assert names.count("geo.tile_data") == 2
    assert "spark.collect" not in names
