"""HTTP server routes, tile serving, mask PNG, AES decrypt loader."""

from __future__ import annotations

import json
import zlib

import pytest

from railgun_spark.catalog import Catalog, DataStore, Job, Layer, Process, Service
from railgun_spark.geo.serving import (
    buffered_tile_bbox,
    extent_intersects,
    feature_collection,
    grid_to_png,
    tile_data,
    tile_mask_grid,
)
from railgun_spark.geo.tiles import tile_bbox
from railgun_spark.sources.crypto import decrypt_bytes, encrypt_bytes, read_encrypted


@pytest.fixture(scope="module")
def points(spark):
    # points inside tile z=10 x=292 y=391 (around lon -77.03, lat 38.89)
    w, s, e, n = tile_bbox(10, 292, 391)
    rows = []
    for i in range(20):
        lon = w + (e - w) * (i % 5 + 0.5) / 5
        lat = s + (n - s) * (i // 5 + 0.5) / 4
        rows.append({"id": i, "amenity": "bar" if i % 2 else "cafe", "lon": lon, "lat": lat})
    rows.append({"id": 99, "amenity": "bar", "lon": 10.0, "lat": 50.0})  # far away
    return spark.createDataFrame(rows)


def test_extent_short_circuit(points):
    # a tile that misses the layer extent returns [] without reading data
    feats = tile_data(points, 10, 0, 0, layer_extent=(-78.0, 38.0, -76.0, 39.5))
    assert feats == []


def test_tile_data_and_envelope(points):
    feats = tile_data(points, 10, 292, 391, user_dfl="filter(@, '@amenity == bar')")
    assert 0 < len(feats) <= 10
    assert all(f["properties"]["amenity"] == "bar" for f in feats)
    fc = feature_collection(feats)
    assert fc["numberOfFeatures"] == len(feats)


def test_buffered_bbox_grows():
    w0, s0, e0, n0 = tile_bbox(10, 292, 391)
    w, s, e, n = buffered_tile_bbox(10, 292, 391, 1)
    assert w < w0 and s < s0 and e > e0 and n > n0
    assert extent_intersects((w, s, e, n), (w0, s0, e0, n0))


def test_mask_grid_and_png(points):
    grid = tile_mask_grid(points, 10, 292, 391, mask_zoom=12, threshold=1)
    assert len(grid) == 4 and any(any(r) for r in grid)
    png = grid_to_png(grid, size=256)
    assert png.startswith(b"\x89PNG") and b"IHDR" in png and b"IEND" in png
    # decodable IDAT
    idat_off = png.index(b"IDAT") + 4
    # rough: decompress everything between IDAT tag and IEND chunk header
    body = png[idat_off : png.index(b"IEND") - 8]
    assert zlib.decompress(body)


def test_aes_cfb_roundtrip(spark, tmp_path):
    payload = b'{"a": 1}\n{"a": 2}\n'
    salt = "00112233445566778899aabbccddeeff"
    blob = encrypt_bytes(payload, "test", salt)
    assert decrypt_bytes(blob, "test", salt) == payload
    p = tmp_path / "data.jsonl.enc"
    p.write_bytes(blob)
    df = read_encrypted(spark, str(p), "test", salt, fmt="jsonl")
    assert sorted(r["a"] for r in df.collect()) == [1, 2]


@pytest.fixture()
def app_client(spark, tmp_path):
    flask = pytest.importorskip("flask")  # noqa: F841
    data = tmp_path / "pts.jsonl"
    w, s, e, n = tile_bbox(10, 292, 391)
    rows = [
        {"id": i, "amenity": "bar" if i % 2 else "cafe",
         "lon": w + (e - w) * 0.5, "lat": s + (n - s) * 0.5}
        for i in range(6)
    ]
    data.write_text("\n".join(json.dumps(r) for r in rows))
    cat = Catalog(spark)
    cat.add(DataStore(name="pts", uri=str(data), format="jsonl"))
    cat.add(Layer(name="bars", datastore="pts", expression="filter(@, '@amenity == bar')"))
    cat.add(Process(name="hist_amenity", expression="hist(@, '@amenity')"))
    cat.add(Service(name="svc", datastore="pts", process="hist_amenity"))
    from railgun_spark.server import create_app

    return create_app(cat).test_client()


def test_server_crud_and_exec(app_client):
    r = app_client.get("/datastores.json")
    assert r.status_code == 200 and r.get_json()[0]["name"] == "pts"

    r = app_client.post("/workspaces.json", json={"name": "ws1", "title": "T"})
    assert r.status_code == 200
    assert app_client.get("/workspaces/ws1.json").get_json()["title"] == "T"
    # conflict
    assert app_client.post("/workspaces.json", json={"name": "ws1"}).status_code == 409
    # dependency-checked delete
    assert app_client.delete("/datastores/pts.json").status_code == 400

    r = app_client.post("/services/svc/exec.json", json={"variables": {}})
    got = {row["key"]: row["count"] for row in r.get_json()}
    assert got == {"bar": 3, "cafe": 3}

    r = app_client.get("/layers/bars/items.json?limit=10")
    assert len(r.get_json()) == 3

    r = app_client.get("/dfl/functions.json")
    names = {f["name"] for f in r.get_json()}
    assert {"tileX", "hist", "slugify"} <= names

    r = app_client.get("/gss/formats.json")
    assert "jsonl" in r.get_json()


def test_server_limit_parsing(app_client):
    assert app_client.get("/layers/bars/items.json?limit=zzz").status_code == 400
    # negative limit = unlimited (ItemsHandler parity)
    r = app_client.get("/layers/bars/items.json?limit=-1")
    assert r.status_code == 200 and len(r.get_json()) == 3


def test_server_jwt_auth(spark, tmp_path):
    pytest.importorskip("flask")
    from railgun_spark import auth
    from railgun_spark.server import create_app

    data = tmp_path / "d.jsonl"
    data.write_text(json.dumps({"a": 1}))
    cat = Catalog(spark)
    cat.add(DataStore(name="d", uri=str(data), format="jsonl"))
    client = create_app(cat, root_password="hunter2").test_client()

    # reads stay open; mutations 401 without a bearer token
    assert client.get("/datastores.json").status_code == 200
    assert client.post("/workspaces.json", json={"name": "w"}).status_code == 401

    # bad credentials rejected
    assert (
        client.post("/authenticate.json", json={"username": "root", "password": "nope"}).status_code
        == 401
    )
    r = client.post("/authenticate.json", json={"username": "root", "password": "hunter2"})
    assert r.status_code == 200
    token = r.get_json()["token"]
    hdr = {"Authorization": f"bearer {token}"}
    assert client.post("/workspaces.json", json={"name": "w"}, headers=hdr).status_code == 200
    assert client.delete("/workspaces/w.json", headers=hdr).status_code == 200

    # tampered and expired tokens rejected
    assert (
        client.post("/workspaces.json", json={"name": "x"},
                    headers={"Authorization": "bearer " + token[:-4] + "AAAA"}).status_code
        == 401
    )
    import time as _time

    kp = auth.generate_keypair()
    expired = auth.sign_token(kp, "root", duration_seconds=-10, now=_time.time())
    with pytest.raises(auth.InvalidToken):
        auth.parse_token(kp.public_key(), expired)


def test_server_swagger(app_client):
    doc = app_client.get("/swagger.json").get_json()
    assert doc["swagger"] == "2.0"
    assert "/datastores.{ext}" in doc["paths"]
    assert "post" in doc["paths"]["/authenticate.{ext}"]
    assert set(doc["definitions"]) >= {"DataStore", "Layer", "Service", "Workflow"}


def test_mask_grid_cache_warm_and_invalidation(spark, tmp_path, monkeypatch):
    """The mask route's grid cache (cache/Cache.go:79 twin): a warm
    repeat skips the groupBy entirely; a datastore rewrite (mtime), a
    layer/datastore update, or TTL expiry recomputes."""
    import os
    import time as _time

    import railgun_spark.geo.serving as serving

    data = tmp_path / "pts.jsonl"
    w, s, e, n = tile_bbox(10, 292, 391)
    rows = [
        {"id": i, "amenity": "bar",
         "lon": w + (e - w) * 0.5, "lat": s + (n - s) * 0.5}
        for i in range(4)
    ]
    data.write_text("\n".join(json.dumps(r) for r in rows))
    cat = Catalog(spark)
    cat.add(DataStore(name="pts", uri=str(data), format="jsonl"))
    cat.add(Layer(name="bars", datastore="pts"))

    calls = {"n": 0}
    real = serving.tile_mask_grid

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(serving, "tile_mask_grid", counting)

    g1 = cat.layer_mask_grid("bars", 10, 292, 391, mask_zoom=12, threshold=1)
    assert calls["n"] == 1 and any(any(r) for r in g1)
    # warm repeat: served from cache, no recompute, same grid
    assert cat.layer_mask_grid("bars", 10, 292, 391, 12, 1) is g1
    assert calls["n"] == 1
    # different cell/params = different key
    cat.layer_mask_grid("bars", 10, 292, 391, 12, 2)
    assert calls["n"] == 2

    # datastore rewrite: mtime change invalidates
    os.utime(data, (os.path.getmtime(data) + 5,) * 2)
    cat.layer_mask_grid("bars", 10, 292, 391, 12, 1)
    assert calls["n"] == 3

    # layer update invalidates (the cached grid was computed under the
    # old definition)
    cat.update(Layer(name="bars", datastore="pts"))
    cat.layer_mask_grid("bars", 10, 292, 391, 12, 1)
    assert calls["n"] == 4

    # TTL expiry invalidates
    cat.ttl_seconds = 0.01
    _time.sleep(0.02)
    cat.layer_mask_grid("bars", 10, 292, 391, 12, 1)
    assert calls["n"] == 5

    # the cache is bounded: overflow evicts, never grows past the cap
    cat.ttl_seconds = 300.0
    cat._grids.capacity = 4
    for t in range(10):
        cat.layer_mask_grid("bars", 10, 292, 391, 12, 10 + t)
    assert len(cat._grids) <= 4

    # an invalidation landing MID-COMPUTE (generation bump between the
    # cache miss and the insert) must not cache the stale grid: the
    # caller gets its consistent result, the next request recomputes
    cat._grids.clear()
    before = calls["n"]

    def bumping(*a, **kw):
        calls["n"] += 1
        # simulate a layer update racing the compute
        cat.update(Layer(name="bars", datastore="pts"))
        return real(*a, **kw)

    monkeypatch.setattr(serving, "tile_mask_grid", bumping)
    cat.layer_mask_grid("bars", 10, 292, 391, 12, 1)
    assert calls["n"] == before + 1
    assert len(cat._grids) == 0  # stale grid discarded, not cached
    monkeypatch.setattr(serving, "tile_mask_grid", counting)
    cat.layer_mask_grid("bars", 10, 292, 391, 12, 1)
    assert calls["n"] == before + 2  # recomputed under the new generation
    assert len(cat._grids) == 1


def test_data_tile_cache_warm_and_invalidation(spark, tmp_path, monkeypatch):
    """The data-tile route's feature cache (the reference caches layer
    DATA with the same 5-min TTL, cache/Cache.go:25-79): a warm repeat
    skips the bbox query entirely; params are part of the key; a
    datastore rewrite (mtime), layer update, or TTL expiry recomputes;
    an invalidation landing mid-compute is not cached."""
    import os
    import time as _time

    import railgun_spark.geo.serving as serving

    data = tmp_path / "pts.jsonl"
    w, s, e, n = tile_bbox(10, 292, 391)
    rows = [
        {"id": i, "amenity": "bar",
         "lon": w + (e - w) * 0.5, "lat": s + (n - s) * 0.5}
        for i in range(4)
    ]
    data.write_text("\n".join(json.dumps(r) for r in rows))
    cat = Catalog(spark)
    cat.add(DataStore(name="pts", uri=str(data), format="jsonl"))
    cat.add(Layer(name="bars", datastore="pts"))

    calls = {"n": 0}
    real = serving.tile_data

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(serving, "tile_data", counting)

    f1 = cat.layer_tile_features("bars", 10, 292, 391, limit=-1)
    assert calls["n"] == 1 and len(f1) == 4
    # warm repeat: same list object, no recompute
    assert cat.layer_tile_features("bars", 10, 292, 391, limit=-1) is f1
    assert calls["n"] == 1
    # different params = different key
    f2 = cat.layer_tile_features("bars", 10, 292, 391, limit=2)
    assert calls["n"] == 2 and len(f2) == 2
    cat.layer_tile_features("bars", 10, 292, 391, limit=-1,
                            user_dfl="filter(@, '@amenity == bar')")
    assert calls["n"] == 3

    # datastore rewrite: mtime change invalidates
    os.utime(data, (os.path.getmtime(data) + 5,) * 2)
    cat.layer_tile_features("bars", 10, 292, 391, limit=-1)
    assert calls["n"] == 4

    # layer update invalidates
    cat.update(Layer(name="bars", datastore="pts"))
    cat.layer_tile_features("bars", 10, 292, 391, limit=-1)
    assert calls["n"] == 5

    # TTL expiry invalidates
    cat.ttl_seconds = 0.01
    _time.sleep(0.02)
    cat.layer_tile_features("bars", 10, 292, 391, limit=-1)
    assert calls["n"] == 6

    # bounded + mid-compute invalidation discarded (same generation
    # discipline as the mask grid cache)
    cat.ttl_seconds = 300.0
    cat._tiles.capacity = 4
    for t in range(8):
        cat.layer_tile_features("bars", 10, 292, 391, limit=10 + t)
    assert len(cat._tiles) <= 4

    cat._tiles.clear()
    before = calls["n"]

    def bumping(*a, **kw):
        calls["n"] += 1
        cat.update(Layer(name="bars", datastore="pts"))
        return real(*a, **kw)

    monkeypatch.setattr(serving, "tile_data", bumping)
    cat.layer_tile_features("bars", 10, 292, 391, limit=-1)
    assert calls["n"] == before + 1
    assert len(cat._tiles) == 0


def test_tile_body_memo_warm_update_and_bound(app_client, monkeypatch):
    """The server's encoded-body memos: a warm repeat of a data (.json)
    and a mask (.png) tile re-encodes nothing; a Layer update recomputes
    the catalog value, so each body re-encodes once; neither memo grows
    past its capacity."""
    import railgun_spark.geo.serving as serving

    calls = {"feature_collection": 0, "grid_to_image": 0}
    for fn in calls:
        def counting(*a, _fn=fn, _real=getattr(serving, fn), **kw):
            calls[_fn] += 1
            return _real(*a, **kw)

        monkeypatch.setattr(serving, fn, counting)
    data = "/layers/bars/tiles/data/10/292/391.json"
    mask = "/layers/bars/tiles/mask/10/292/391.png?zoom=12"

    def both():
        return app_client.get(data).data, app_client.get(mask).data

    cold = both()
    assert calls == {"feature_collection": 1, "grid_to_image": 1}
    assert both() == cold
    assert calls == {"feature_collection": 1, "grid_to_image": 1}

    r = app_client.post("/layers/bars.json", json={
        "datastore": "pts", "expression": "filter(@, '@amenity == bar')"})
    assert r.status_code == 200
    assert both() == cold and both() == cold
    assert calls == {"feature_collection": 2, "grid_to_image": 2}

    # the bound, seen through the encode counts: with one catalog value
    # behind every key, capacity + 1 distinct keys keep the newest
    # capacity bodies and evict the oldest
    feats, grid = [], [[1] * 4] * 4
    monkeypatch.setattr(Catalog, "layer_tile_features", lambda self, *a, **kw: feats)
    monkeypatch.setattr(Catalog, "layer_mask_grid", lambda self, *a, **kw: grid)
    for route, fn, capacity in (
        (f"{data}?limit=", "feature_collection", 256),
        (f"{mask}&threshold=", "grid_to_image", 1024),
    ):
        before = calls[fn]
        for k in range(capacity + 1):
            assert app_client.get(f"{route}{k}").status_code == 200
        assert calls[fn] == before + capacity + 1
        app_client.get(f"{route}1")
        app_client.get(f"{route}{capacity}")
        assert calls[fn] == before + capacity + 1
        app_client.get(f"{route}0")
        assert calls[fn] == before + capacity + 2


def test_server_tiles(app_client):
    r = app_client.get("/layers/bars/tiles/data/10/292/391.json")
    fc = r.get_json()
    assert fc["type"] == "FeatureCollection" and fc["numberOfFeatures"] == 3

    r = app_client.get("/layers/bars/tiles/mask/10/292/391.png?zoom=12")
    assert r.status_code == 200 and r.data.startswith(b"\x89PNG")

    # gif + jpg mask formats (RespondWithGrid.go:20-46 parity)
    r = app_client.get("/layers/bars/tiles/mask/10/292/391.gif?zoom=12")
    assert r.status_code == 200 and r.data.startswith(b"GIF87a")
    assert r.mimetype == "image/gif"
    r = app_client.get("/layers/bars/tiles/mask/10/292/391.jpg?zoom=12")
    assert r.status_code == 200 and r.data.startswith(b"\xff\xd8")
    assert r.mimetype == "image/jpeg"
    r = app_client.get("/layers/bars/tiles/mask/10/292/391.bmp?zoom=12")
    assert r.status_code == 404

    # tile far away -> empty collection
    r = app_client.get("/layers/bars/tiles/data/10/0/0.json")
    assert r.get_json()["numberOfFeatures"] == 0


def test_mask_zoom_bounds(app_client):
    """The mask zoom is z..z+8 (a grid of at most 256x256 cells): below
    z or deeper is a 400 before any Spark work, not a 500 or a 2^dz
    square grid on the driver."""
    z, x, y = 10, 292, 391
    route = f"/layers/bars/tiles/mask/{z}/{x}/{y}.png?zoom="
    assert app_client.get(f"{route}{z - 1}").status_code == 400
    assert app_client.get(f"{route}{z + 9}").status_code == 400
    r = app_client.get(f"{route}{z + 8}")
    assert r.status_code == 200 and r.data.startswith(b"\x89PNG")


def _lzw_decode(data: bytes, min_code_size: int) -> list[int]:
    """Test-side GIF LZW decoder (mirror width/reset rules)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    pos = 0

    def fresh():
        return {i: (i,) for i in range(clear)}, eoi + 1, min_code_size + 1

    table, nxt, width = fresh()
    out: list[int] = []
    prev = None
    nbits_total = len(data) * 8
    while True:
        if pos + width > nbits_total:
            raise AssertionError("ran out of LZW bits before EOI")
        code = 0
        for i in range(width):  # LSB-first
            byte, bit = divmod(pos + i, 8)
            code |= ((data[byte] >> bit) & 1) << i
        pos += width
        if code == clear:
            table, nxt, width = fresh()
            prev = None
            continue
        if code == eoi:
            return out
        if code in table:
            entry = table[code]
        elif code == nxt and prev is not None:  # KwKwK case
            entry = prev + (prev[0],)
        else:
            raise AssertionError(f"bad LZW code {code}")
        out.extend(entry)
        if prev is not None:
            table[nxt] = prev + (entry[0],)
            nxt += 1
            if nxt == (1 << width) and width < 12:
                width += 1
        prev = entry


def test_mask_gif_and_jpeg_pixels_match_png_grid(spark, tmp_path):
    """The three mask encodings carry the SAME raster: decode the GIF via
    a test-side LZW decoder and the JPEG via the library's own decoder,
    and compare both against the grid."""
    import numpy as np

    from railgun_spark.geo.serving import grid_to_gif, grid_to_jpeg

    rng = np.random.RandomState(3)
    side = 16
    grid = [[int(rng.rand() < 0.4) for _ in range(side)] for _ in range(side)]
    expect = (np.array(grid, dtype="uint8") * 255).repeat(4, 0).repeat(4, 1)

    gif = grid_to_gif(grid, size=64)
    assert gif[:6] == b"GIF87a" and gif[-1:] == b"\x3b"
    w = int.from_bytes(gif[6:8], "little")
    h = int.from_bytes(gif[8:10], "little")
    assert (w, h) == (64, 64)
    # palette: black then white
    assert gif[13:19] == bytes([0, 0, 0, 255, 255, 255])
    # image descriptor at 19; LZW starts after it
    assert gif[19] == 0x2C  # descriptor: 10 bytes (19..28)
    min_code = gif[29]
    # reassemble sub-blocks
    lzw = bytearray()
    p = 30
    while gif[p]:
        n = gif[p]
        lzw += gif[p + 1 : p + 1 + n]
        p += 1 + n
    pixels = _lzw_decode(bytes(lzw), min_code)
    assert len(pixels) == 64 * 64
    got = np.array(pixels, dtype="uint8").reshape(64, 64) * 255
    assert np.array_equal(got, expect)

    # full-size random mask: >4096 LZW entries forces the dictionary
    # reset (CLEAR mid-stream) — decoded pixels must still match exactly
    big = [[int(v) for v in row] for row in (rng.rand(256, 256) < 0.5)]
    bgif = grid_to_gif(big, size=256)
    lzw2 = bytearray()
    p = 30
    while bgif[p]:
        n = bgif[p]
        lzw2 += bgif[p + 1 : p + 1 + n]
        p += 1 + n
    px2 = _lzw_decode(bytes(lzw2), bgif[29])
    assert np.array_equal(
        np.array(px2, dtype="uint8").reshape(256, 256), np.array(big, dtype="uint8")
    )

    from railgun_spark.operators.jpeg import decode_jpeg

    jp = decode_jpeg(grid_to_jpeg(grid, size=64))
    # JPEG is lossy but near-lossless at the unit table: binary mask
    # pixels stay within a few levels of 0/255
    assert jp.shape == (64, 64, 3)
    assert np.abs(jp[:, :, 0] - expect).max() < 8.0


def test_read_encrypted_many_distributed(spark, tmp_path):
    from railgun_spark.sources.crypto import encrypt_bytes, read_encrypted_many

    salt = "ffeeddccbbaa99887766554433221100"
    shard_dir = tmp_path / "enc_shards"
    shard_dir.mkdir()
    expected = []
    for s in range(3):
        rows = [{"shard": s, "i": i, "tag": f"s{s}i{i}"} for i in range(4)]
        expected += rows
        payload = "\n".join(json.dumps(r) for r in rows).encode()
        (shard_dir / f"part-{s}.jsonl.enc").write_bytes(
            encrypt_bytes(payload, "pw", salt)
        )
    df = read_encrypted_many(spark, str(shard_dir), "pw", salt)
    got = sorted(
        (r["shard"], r["i"], r["tag"]) for r in df.collect()
    )
    assert got == sorted((r["shard"], r["i"], r["tag"]) for r in expected)
    # the decode happens executor-side: plan shows an Arrow python hop, and
    # the frame is partitionable (no driver collect in the data path)
    assert df.rdd.getNumPartitions() >= 1


def test_exec_routes_require_auth_and_bad_payloads_400(spark, tmp_path):
    """Exec endpoints are compute/write surfaces: bearer-gated like
    mutations. Malformed catalog payloads return 400, not a stack-trace
    500; non-numeric tile params 400 likewise."""
    pytest.importorskip("flask")
    from railgun_spark.server import create_app

    data = tmp_path / "d.jsonl"
    data.write_text(json.dumps({"a": 1}))
    cat = Catalog(spark)
    cat.add(DataStore(name="d", uri=str(data), format="jsonl"))
    cat.add(Process(name="p", expression="filter(@, '@a == 1')"))
    cat.add(Service(name="s", process="p", datastore="d"))
    cat.add(Job(name="j", service="s"))
    client = create_app(cat, root_password="hunter2").test_client()

    for route in ("/services/s/exec.json", "/jobs/j/exec.json"):
        assert client.post(route).status_code == 401

    r = client.post("/authenticate.json", json={"username": "root", "password": "hunter2"})
    hdr = {"Authorization": f"bearer {r.get_json()['token']}"}
    assert client.post("/services/s/exec.json", headers=hdr).status_code == 200

    # unknown field -> 400 with a diagnostic, not a TypeError 500
    bad = client.post("/workspaces.json", json={"name": "w", "nope": 1}, headers=hdr)
    assert bad.status_code == 400 and "invalid" in bad.get_json()["error"]


def test_datastore_delete_blocked_by_job_output(spark, tmp_path):
    """A datastore referenced as a Job OUTPUT is a dependent: deleting it
    must raise, like layer/service references."""
    from railgun_spark.catalog.registry import DependencyError

    data = tmp_path / "d.jsonl"
    data.write_text(json.dumps({"a": 1}))
    out_uri = tmp_path / "out.jsonl"
    cat = Catalog(spark)
    cat.add(DataStore(name="d", uri=str(data), format="jsonl"))
    cat.add(DataStore(name="sink", uri=str(out_uri), format="jsonl"))
    cat.add(Process(name="p", expression="filter(@, '@a == 1')"))
    cat.add(Service(name="s", process="p", datastore="d"))
    cat.add(Job(name="j", service="s", output="sink"))
    with pytest.raises(DependencyError, match="sink"):
        cat.delete(DataStore, "sink")


def test_server_health_route(app_client):
    """HealthHandler twin (RailgunRouter.go:54): GET /health.{ext} in any
    negotiated format, bearer-exempt, reporting status + Spark liveness +
    catalog counts."""
    body = app_client.get("/health.json").get_json()
    assert body["status"] == "ok"
    assert body["spark"] is True
    assert body["catalog"]["datastores"] == 1
    assert body["catalog"]["layers"] == 1
    assert body["catalog"]["workflows"] == 0

    import yaml

    resp = app_client.get("/health.yaml")
    assert resp.mimetype == "application/yaml"
    assert yaml.safe_load(resp.data)["status"] == "ok"


def test_server_health_bearer_exempt(spark, tmp_path):
    """With auth enabled, /health.{ext} and / stay open (the reference
    registers them outside the bearer-gated catalog routes)."""
    pytest.importorskip("flask")
    from railgun_spark.server import create_app

    client = create_app(Catalog(spark), root_password="hunter2").test_client()
    assert client.get("/health.json").status_code == 200
    assert client.get("/").status_code == 200
    # a mutating catalog route is still gated
    assert client.post(
        "/datastores.json", json={"name": "x", "uri": "/dev/null", "format": "jsonl"}
    ).status_code == 401


def test_server_home_route(app_client):
    """HomeHandler twin (RailgunRouter.go:50): GET / serves a
    self-contained HTML landing page linking the catalog collections."""
    resp = app_client.get("/")
    assert resp.status_code == 200 and resp.mimetype == "text/html"
    html = resp.get_data(as_text=True)
    assert "/layers.json" in html and "/swagger.json" in html
    assert "http://" not in html and "https://" not in html  # no CDN assets


def test_server_swagger_has_health_and_home(app_client):
    doc = app_client.get("/swagger.json").get_json()
    assert "/health.{ext}" in doc["paths"]
    assert "/" in doc["paths"]
