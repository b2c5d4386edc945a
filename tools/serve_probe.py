"""Serve-path latency probe: time the layer tile endpoints — the
reference's raison d'être (`/root/reference/railgun/handlers/
LayerTileHandler.go:85-262`, LayerTileMaskHandler) — over an sf0.1-sized
layer and print ONE JSON line of per-endpoint latencies.

Setup mirrors production serving: events are materialized once as a
lon/lat point parquet (the same deterministic key-derived coordinates the
geo suite queries use), registered as a DataStore + Layer with a declared
extent, and requests go through the full Flask stack (catalog lookup ->
cached DataFrame -> DFL/tile filter -> GeoJSON/PNG render). The catalog's
DataFrame cache means the first request pays the scan and the rest pay
only the tile bbox filter + collect — exactly the reference's serving
profile (its handlers also serve from a loaded cache, Catalog.go).

Endpoints timed (N iterations each, first request reported separately as
`cold`):
  - tiles/data at z4 and z8 (hit tiles: bbox filter + feature collect)
  - tiles/data at a tile OUTSIDE the layer extent (the short-circuit path
    must answer without touching data)
  - tiles/mask (256x256 rasterized presence grid -> PNG)

Usage: python tools/serve_probe.py [iters]   (default 5)
Prints: {"metric": "tile_latency", "endpoints": {name: {"cold": s,
         "min": s, "median": s, "n_bytes": int}}, "sf": ...}

Measured (sf0.1 = 100k events, local[32], 2026-08-14):
  tiles_data_z4          cold 0.82s  warm median 0.116s  (75 KB GeoJSON)
  tiles_data_z8          cold 0.16s  warm median 0.087s
  tiles_data_extent_miss              median 0.001s  (no data touched)
  tiles_mask_z4          cold 1.03s  warm median 0.223s  (PNG)
  tiles_mask_gif         warm median 0.250s  (GIF87a, from-scratch LZW)
  tiles_mask_jpg         warm median 0.193s  (grayscale baseline JPEG)
Warm-path latency is the catalog-cache + tile-filter + render cost; the
cold hit pays the one-time parquet scan into the cache.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from railgun_spark.catalog import Catalog, DataStore, Layer
    from railgun_spark.geo.tiles import _lat, _lon
    from railgun_spark.server import create_app
    from railgun_spark.session import get_spark
    from railgun_spark.sources.tables import load_events

    iters = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("serve_probe")

    d = tempfile.mkdtemp(prefix="serve_probe_")
    pts_path = os.path.join(d, "points.parquet")
    load_events(spark, sf_dir).select(
        F.col("event_id").alias("id"),
        _lon().alias("lon"),
        _lat().alias("lat"),
        "event_type",
    ).write.mode("overwrite").parquet(pts_path)

    cat = Catalog(spark)
    cat.add(DataStore(name="pts", uri=pts_path, format="parquet"))
    cat.add(
        Layer(
            name="events",
            datastore="pts",
            extent=[-180.0, -85.0, 180.0, 85.0],
        )
    )
    client = create_app(cat).test_client()

    # z4 (8,5) and z8 (128,88) both intersect the derived point cloud;
    # z10 (0,0) is far outside any point's tile at the probe extent below —
    # probe it against a layer whose extent EXCLUDES it to time the
    # extent short-circuit (no data touched).
    cat.add(
        Layer(
            name="events_clipped",
            datastore="pts",
            extent=[-10.0, -10.0, 10.0, 10.0],
        )
    )
    targets = {
        "tiles_data_z4": "/layers/events/tiles/data/4/8/5.json?limit=500",
        "tiles_data_z8": "/layers/events/tiles/data/8/128/88.json?limit=500",
        "tiles_data_extent_miss": "/layers/events_clipped/tiles/data/10/0/0.json",
        "tiles_mask_z4": "/layers/events/tiles/mask/4/8/5.png?zoom=8",
        "tiles_mask_gif": "/layers/events/tiles/mask/4/8/5.gif?zoom=8",
        "tiles_mask_jpg": "/layers/events/tiles/mask/4/8/5.jpg?zoom=8",
    }

    out: dict[str, dict] = {}
    for name, url in targets.items():
        times: list[float] = []
        n_bytes = 0
        for i in range(iters + 1):  # +1: first request is the cold one
            t0 = time.time()
            r = client.get(url)
            dt = time.time() - t0
            assert r.status_code == 200, (name, r.status_code)
            n_bytes = len(r.data)
            if i == 0:
                cold = dt
            else:
                times.append(dt)
        out[name] = {
            "cold": round(cold, 3),
            "min": round(min(times), 3),
            "median": round(sorted(times)[len(times) // 2], 3),
            "n_bytes": n_bytes,
        }

    print(
        json.dumps(
            {
                "metric": "tile_latency",
                "endpoints": out,
                "iters": iters,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
