"""Concurrent serving probe: the reference server is explicitly
concurrent (request queues of 10000, /root/reference/railgun/cli/
serve.go:42-44); tools/serve_probe.py times single requests only. This
probe drives N parallel clients through a REAL threaded HTTP server
(werkzeug, like `railgun_spark serve` runs) and reports:

1. p50/p95/max latency per endpoint under concurrency — tile data,
   tile mask (PNG render), and service exec all contend on one Spark
   driver, so the interesting number is how much a 12-wide client pool
   stretches the single-request latency;
2. shared-state interference on the service-exec path: the catalog
   keeps a per-service SESSION VARIABLE cache (registry.exec_service,
   mirroring ServiceExecHandler.go:282-290) and an mtime-keyed
   DataFrame cache — K concurrent execs of the SAME service with
   DIFFERENT request variables must each see ONLY their own filter
   (request variables must never bleed across in-flight requests via
   the session cache). Every response row is checked against the
   variable its request carried; any cross-request bleed counts as an
   interference error and the probe exits 1.

Usage: python tools/serve_concurrent_probe.py [pool_width] [reqs_per_ep]
       (defaults 12 and 48)
Prints ONE JSON line:
  {"metric": "serve_concurrency", "pool": N, "endpoints":
   {name: {"p50": s, "p95": s, "max": s, "n": int}},
   "exec_interference": {"n": int, "mismatches": int}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _pct(xs: list[float], q: float) -> float:
    ys = sorted(xs)
    return ys[min(len(ys) - 1, int(q * len(ys)))]


def main() -> int:
    import urllib.request

    from pyspark.sql import functions as F
    from werkzeug.serving import make_server

    from railgun_spark.catalog import Catalog, DataStore, Layer, Process, Service
    from railgun_spark.geo.tiles import _lat, _lon
    from railgun_spark.server import create_app
    from railgun_spark.session import get_spark
    from railgun_spark.sources.tables import load_events

    pool = int(sys.argv[1]) if len(sys.argv) > 1 else 12
    per_ep = int(sys.argv[2]) if len(sys.argv) > 2 else 48
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("serve_concurrent_probe")

    d = tempfile.mkdtemp(prefix="serve_conc_")
    pts_path = os.path.join(d, "points.parquet")
    ev = load_events(spark, sf_dir)
    ev.select(
        F.col("event_id").alias("id"),
        _lon().alias("lon"),
        _lat().alias("lat"),
        "event_type",
    ).write.mode("overwrite").parquet(pts_path)
    expected_counts = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }

    cat = Catalog(spark)
    cat.add(DataStore(name="pts", uri=pts_path, format="parquet"))
    cat.add(Layer(name="events", datastore="pts",
                  extent=[-180.0, -85.0, 180.0, 85.0]))
    cat.add(Process(name="by_type",
                    expression="filter(@, '@event_type == $etype')"))
    cat.add(Service(name="by_type", datastore="pts", process="by_type"))

    app = create_app(cat)
    server = make_server("127.0.0.1", 0, app, threaded=True)
    port = server.server_port
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{port}"

    def get(url: str) -> bytes:
        with urllib.request.urlopen(base + url, timeout=120) as r:
            assert r.status == 200, (url, r.status)
            return r.read()

    def post(url: str, payload: dict) -> bytes:
        req = urllib.request.Request(
            base + url,
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            assert r.status == 200, (url, r.status)
            return r.read()

    # with the r16 grid cache (registry.layer_mask_grid, cache/Cache.go:79
    # twin) the fixed-key mask lanes measure WARM repeats after the warmup
    # request primes them; tiles_mask_cold varies the threshold per
    # request so every call misses the cache and pays the full groupBy —
    # both numbers matter (cold = first-tile latency, warm = steady state)
    import itertools

    _cold_thresh = itertools.count(100)
    _cold_limit = itertools.count(10_000)
    endpoints = {
        # r17: the data route caches features with the same TTL+mtime
        # discipline as the mask grid (registry.layer_tile_features), so
        # the fixed-key data lanes are WARM repeats too; tiles_data_cold
        # varies the limit per request so every call misses the cache
        # and pays the bbox query + collect
        "tiles_data_z4": lambda: get("/layers/events/tiles/data/4/8/5.json?limit=500"),
        "tiles_data_z8": lambda: get("/layers/events/tiles/data/8/128/88.json?limit=500"),
        "tiles_data_cold": lambda: get(
            "/layers/events/tiles/data/4/8/5.json"
            f"?limit={next(_cold_limit)}"
        ),
        "tiles_mask_z4": lambda: get("/layers/events/tiles/mask/4/8/5.png?zoom=8"),
        "tiles_mask_gif": lambda: get("/layers/events/tiles/mask/4/8/5.gif?zoom=8"),
        "tiles_mask_jpg": lambda: get("/layers/events/tiles/mask/4/8/5.jpg?zoom=8"),
        "tiles_mask_cold": lambda: get(
            "/layers/events/tiles/mask/4/8/5.png"
            f"?zoom=8&threshold={next(_cold_thresh)}"
        ),
        "exec_by_type": lambda: post("/services/by_type/exec.json",
                                     {"variables": {"etype": "click"}}),
    }
    for fn in endpoints.values():  # warm: parquet scan into the df cache
        fn()

    out: dict[str, dict] = {}
    with ThreadPoolExecutor(max_workers=pool) as ex:
        for name, fn in endpoints.items():
            lat: list[float] = []
            lock = threading.Lock()

            def timed(fn=fn, lat=lat, lock=lock):
                t0 = time.time()
                fn()
                dt = time.time() - t0
                with lock:
                    lat.append(dt)

            list(ex.map(lambda _: timed(), range(per_ep)))
            out[name] = {
                "p50": round(_pct(lat, 0.50), 3),
                "p95": round(_pct(lat, 0.95), 3),
                "max": round(max(lat), 3),
                "n": len(lat),
            }

        # interference: concurrent execs, each with its own variable;
        # every row of a response must match ITS request's etype, and the
        # row count must equal the precomputed per-type count (<=1000
        # payload cap does not bind at sf<=0.1: ~2k rows per type at
        # sf0.1 exceeds it, so compare against min(count, 1000) rows and
        # check type purity row-by-row)
        etypes = ["click", "view", "purchase", "error", "signup"]
        mismatches = [0]
        mlock = threading.Lock()

        def exec_one(i: int) -> None:
            etype = etypes[i % len(etypes)]
            rows = json.loads(post("/services/by_type/exec.json",
                                   {"variables": {"etype": etype}}))
            want_n = min(expected_counts[etype], 1000)
            bad = sum(1 for r in rows if r.get("event_type") != etype)
            if bad or len(rows) != want_n:
                with mlock:
                    mismatches[0] += 1

        n_exec = pool * 4
        list(ex.map(exec_one, range(n_exec)))

    server.shutdown()
    payload = {
        "metric": "serve_concurrency",
        "pool": pool,
        "endpoints": out,
        "exec_interference": {"n": n_exec, "mismatches": mismatches[0]},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    print(json.dumps(payload))
    return 1 if mismatches[0] else 0


if __name__ == "__main__":
    raise SystemExit(main())
