"""The benchmark's traced run (perfbench/run.py --trace 1) wraps engine
functions by name: Catalog methods through ``Catalog.__dict__``, and
module-level functions wherever they are bound. A renamed or moved
function, or one captured when the catalog or app is built, breaks the
traced run or silently drops its spans; this test fails first."""

from __future__ import annotations

import json

import pytest

from railgun_spark.catalog import Catalog, DataStore, Layer
from railgun_spark.geo.tiles import tile_bbox


def test_benchmark_layer_install_and_serve_spans(spark, tmp_path):
    pytest.importorskip("flask")
    from perfbench import layers
    from perfbench.trace import Tracer

    from railgun_spark.server import create_app

    data = tmp_path / "pts.jsonl"
    w, s, e, n = tile_bbox(10, 292, 391)
    data.write_text(json.dumps({"id": 0, "lon": (w + e) / 2, "lat": (s + n) / 2}))
    cat = Catalog(spark)
    cat.add(DataStore(name="pts", uri=str(data), format="jsonl"))
    cat.add(Layer(name="l", datastore="pts"))
    # built before the patch, as the benchmark's server is
    client = create_app(cat).test_client()
    original = Catalog.__dict__["layer_mask_grid"]

    tracer = Tracer()
    try:
        layers.install(tracer, type(spark.range(1)))
        assert client.get("/layers/l/tiles/data/10/292/391.json").status_code == 200
        assert client.get("/layers/l/tiles/mask/10/292/391.png?zoom=12").status_code == 200
    finally:
        tracer.unpatch()
    assert Catalog.__dict__["layer_mask_grid"] is original

    names = {s.name for s in tracer.spans}
    assert names >= {
        "catalog.load_datastore", "sources.read",
        "catalog.layer_tile_features", "geo.tile_data",
        "geo.feature_collection", "server.render",
        "catalog.layer_mask_grid", "geo.mask_grid", "geo.encode",
    }
