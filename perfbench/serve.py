"""serve_tiles: an open loop of seeded Poisson arrivals at fixed rates
against a real server process (perfbench/serve_launcher.py, which starts
the engine's HTTP app as ``railgun_spark serve`` does).

The catalog has the events as a points layer and a DFL service. The mix
is mostly data tiles at z6-z10 drawn Zipf from a universe larger than the
server's 256-entry tile and body caches, plus mask tiles from a set that
fits the 1024-entry grid cache, service execs with seeded variables (they
always compute) and ``items?dfl=`` with seeded filters.
"""

from __future__ import annotations

import http.client
import json
import math
import os
import random
import select
import signal
import subprocess
import sys
import time
import urllib.parse
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from perfbench import harness, layers
from perfbench.datagen import EVENT_TYPES, tile_xy, write_points
from perfbench.openloop import backlog_grows, backlog_max, poisson_arrivals, run_phase
from perfbench.sparkstore import Usage
from perfbench.stats import geomean, median, percentile, summary, tail_percentile
from perfbench.trace import Span

BASE_RATE = 75.0  # requests/s offered in the open-loop phase
BASE_REQUESTS = 1000  # the fewest with ten samples beyond the p99
CAPACITY_REQUESTS = 800  # closed-loop phase
LATENCY_LIMIT_MS = 1000.0
SHAPE_SEED = 20171028
UNIVERSE = 1025  # data tiles; the tile and body caches hold 256
DATA_ZOOMS = (6, 7, 8, 9, 10)
MASK_SET = 24  # mask tiles; the grid cache holds 1024
MASK_ZOOMS = (4, 5, 6)
ZIPF_S = 1.3
MIX = (("data", 0.84), ("mask", 0.10), ("exec", 0.03), ("items", 0.03))
ITEMS_LIMIT = 200
EXEC_LIMIT = 1000  # the server's exec payload cap
MASK_EXT = {"png": b"\x89PNG\r\n\x1a\n", "gif": b"GIF8", "jpg": b"\xff\xd8\xff"}
STARTUP_TIMEOUT_S = 150


def tile_bounds(z: int, x: int, y: int) -> tuple[float, float, float, float]:
    """[w, s, e, n] of an XYZ tile."""
    n = 2 ** z

    def lat(yy: int) -> float:
        return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * yy / n))))

    return (x / n * 360.0 - 180.0, lat(y + 1), (x + 1) / n * 360.0 - 180.0, lat(y))


def buffered_bounds(z: int, x: int, y: int) -> tuple[float, float, float, float]:
    w, s, _, _ = tile_bounds(z, x - 1, y + 1)
    _, _, e, n = tile_bounds(z, x + 1, y - 1)
    return w, s, e, n


@dataclass
class Req:
    due: float
    route: str
    method: str
    path: str
    body: bytes | None
    check: object  # (status, body bytes) -> bool
    rid: str = ""


class Mix:
    """The request population and the checks of each response.

    Two random streams: ``shape`` (fixed seed) draws the arrival times,
    the route of each request and the Zipf rank of each data tile, so
    every run has the same pattern of cache hits and misses; ``inputs``
    (the run seed) picks the tiles behind the ranks, the mask tiles, the
    exec variables and the items filters."""

    def __init__(self, inputs: random.Random, points: dict) -> None:
        self.rng = random.Random(SHAPE_SEED)
        self.inputs = inputs
        self.points = points
        tiles = {z: set() for z in range(4, 11)}
        for lon, lat in zip(points["lon"], points["lat"]):
            for z in tiles:
                tiles[z].add(tile_xy(lon, lat, z))
        # ranks interleave the zooms, so each run's ranking has the same
        # mix of tile sizes at every rank
        per_zoom = {z: inputs.sample(sorted(tiles[z]), UNIVERSE // len(DATA_ZOOMS))
                    for z in DATA_ZOOMS}
        self.universe = [(z, *per_zoom[z][k]) for k in range(UNIVERSE // len(DATA_ZOOMS))
                         for z in DATA_ZOOMS]
        # the server returns every point in the buffered bbox (bounds
        # inclusive), so each data tile's feature count is known
        lon, lat = np.asarray(points["lon"]), np.asarray(points["lat"])
        self.tile_counts = {}
        for tile in self.universe:
            w, s, e, n = buffered_bounds(*tile)
            self.tile_counts[tile] = int(np.count_nonzero(
                (lon >= w) & (lon <= e) & (lat >= s) & (lat <= n)))
        weights = [1.0 / (k + 1) ** ZIPF_S for k in range(len(self.universe))]
        total = sum(weights)
        self.cum = []
        acc = 0.0
        for w in weights:
            acc += w / total
            self.cum.append(acc)
        exts = sorted(MASK_EXT)
        self.masks = [
            ((z, *xy), exts[i % len(exts)])
            for z in MASK_ZOOMS
            for i, xy in enumerate(inputs.sample(sorted(tiles[z]), MASK_SET // len(MASK_ZOOMS)))
        ]
        self.type_counts = {t: points["event_type"].count(t) for t in EVENT_TYPES}

    def _zipf(self) -> tuple[int, int, int]:
        u = self.rng.random()
        lo, hi = 0, len(self.cum) - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if self.cum[mid] < u:
                lo = mid + 1
            else:
                hi = mid
        return self.universe[lo]

    def data(self, due: float) -> Req:
        z, x, y = self._zipf()
        bounds = buffered_bounds(z, x, y)
        want = self.tile_counts[(z, x, y)]

        def check(resp) -> bool:
            status, body = resp
            doc = json.loads(body)
            feats = doc["features"]
            w, s, e, n = bounds
            eps = 1e-9
            return status == 200 and len(feats) == want and all(
                w - eps <= f["geometry"]["coordinates"][0] <= e + eps
                and s - eps <= f["geometry"]["coordinates"][1] <= n + eps
                for f in feats
            )

        return Req(due, "data", "GET", f"/layers/events/tiles/data/{z}/{x}/{y}.json", None, check)

    def mask(self, due: float, entry=None) -> Req:
        (z, x, y), ext = entry or self.masks[self.rng.randrange(len(self.masks))]
        magic = MASK_EXT[ext]

        def check(resp) -> bool:
            status, body = resp
            return status == 200 and body.startswith(magic)

        return Req(due, "mask", "GET", f"/layers/events/tiles/mask/{z}/{x}/{y}.{ext}", None, check)

    def exec(self, due: float) -> Req:
        etype = self.inputs.choice(EVENT_TYPES)
        want = min(self.type_counts[etype], EXEC_LIMIT)

        def check(resp) -> bool:
            status, body = resp
            rows = json.loads(body)
            return status == 200 and len(rows) == want and all(
                row["event_type"] == etype for row in rows)

        payload = json.dumps({"variables": {"etype": etype}}).encode()
        return Req(due, "exec", "POST", "/services/by_type/exec.json", payload, check)

    def items(self, due: float) -> Req:
        floor = round(self.inputs.uniform(50.0, 480.0), 2)
        want = min(sum(1 for v in self.points["value"] if v > floor), ITEMS_LIMIT)
        dfl = urllib.parse.quote(f"filter(@, '@value > {floor}')")

        def check(resp) -> bool:
            status, body = resp
            rows = json.loads(body)
            return status == 200 and len(rows) == want and all(row["value"] > floor for row in rows)

        return Req(due, "items", "GET",
                   f"/layers/events/items.json?limit={ITEMS_LIMIT}&dfl={dfl}", None, check)

    def phase(self, due_times: list[float], tag: str, first: int = 0) -> list[Req]:
        routes = [m[0] for m in MIX]
        weights = [m[1] for m in MIX]
        reqs = []
        for i, due in enumerate(due_times):
            route = self.rng.choices(routes, weights)[0]
            req = getattr(self, route)(due)
            req.rid = f"{tag}-{first + i}"
            reqs.append(req)
        return reqs


def _catalog(path: str, points: str) -> None:
    doc = {
        "DataStore": [{"name": "pts", "uri": points, "format": "parquet"}],
        "Layer": [{"name": "events", "datastore": "pts", "extent": [-180.0, -85.0, 180.0, 85.0]}],
        "Process": [{"name": "by_type", "expression": "filter(@, '@event_type == $etype')"}],
        "Service": [{"name": "by_type", "datastore": "pts", "process": "by_type"}],
    }
    with open(path, "w") as f:
        json.dump(doc, f)


def _read_port(proc: subprocess.Popen) -> int:
    deadline = time.monotonic() + STARTUP_TIMEOUT_S
    while time.monotonic() < deadline:
        if proc.poll() is not None:
            raise RuntimeError(f"server exited with {proc.returncode} before listening")
        ready, _, _ = select.select([proc.stdout], [], [], 1.0)
        if ready:
            line = proc.stdout.readline()
            if line.startswith("PORT "):
                return int(line.split()[1])
    raise TimeoutError("server did not report its port")


def _stop(proc: subprocess.Popen) -> None:
    if proc.poll() is None:
        proc.send_signal(signal.SIGTERM)
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run(r: harness.Run) -> tuple[dict, dict | None, dict]:
    tables = os.path.join(r.work, "tables")
    harness.write_inputs(tables, ("events",))
    points_path = os.path.join(r.work, "points.parquet")
    write_points(points_path, os.path.join(tables, "events.parquet"))
    points = pq.read_table(points_path).to_pydict()
    catalog = os.path.join(r.work, "catalog.json")
    _catalog(catalog, points_path)
    mix = Mix(random.Random(r.seed), points)

    trace_out = os.path.join(r.work, "server_trace.json") if r.tracer is not None else None
    cmd = [sys.executable, os.path.join(r.root, "perfbench", "serve_launcher.py"),
           "--catalog-uri", catalog] + (["--trace-out", trace_out] if trace_out else [])
    with open(os.path.join(r.work, "server.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=r.root, stdout=subprocess.PIPE, stderr=log, text=True)
    try:
        r.rss.root = proc.pid
        port = _read_port(proc)

        def send(req: Req):
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
            try:
                headers = {"X-Request-Id": req.rid, "X-Bench-Phase": req.rid.split("-")[0]}
                if req.body is not None:
                    headers["Content-Type"] = "application/json"
                conn.request(req.method, req.path, body=req.body, headers=headers)
                resp = conn.getresponse()
                return resp.status, resp.read()
            finally:
                conn.close()

        conns = harness.cpus()

        def phase(reqs: list[Req]):
            outs = run_phase(reqs, send, conns)
            for o, req in zip(outs, reqs):
                r.check(o.ok, f"{req.method} {req.path}")
            return outs

        # set-up: one request per route (first Spark jobs, the frame
        # cache), every mask tile, then a short untimed stretch of the mix
        prime = [mix.data(0.0), mix.mask(0.0), mix.exec(0.0), mix.items(0.0)]
        fill = [mix.mask(0.0, m) for m in mix.masks]
        for req in prime + fill:
            req.rid = "warm-fill"
        phase(prime)
        phase(fill)
        phase(mix.phase(poisson_arrivals(mix.rng, BASE_RATE, int(2 * BASE_RATE)), "warm"))
        setup_s = r.begin_timed()

        n_base = max(BASE_REQUESTS, int(0.85 * r.seconds * BASE_RATE))
        base = phase(mix.phase(poisson_arrivals(mix.rng, BASE_RATE, n_base), "measure"))
        # capacity: every connection sends its next request as soon as
        # its last one returns (all due at once)
        closed = phase(mix.phase([0.0] * CAPACITY_REQUESTS, "measure", first=n_base))
        cpu_s = r.timed_cpu_s()
    finally:
        _stop(proc)

    lat_ms = [o.latency * 1e3 for o in base]
    p_tail, tail = tail_percentile(lat_ms)
    route_medians = {
        route: median([o.latency * 1e3 for o in base if o.route == route])
        for route, _ in MIX if any(o.route == route for o in base)
    }
    capacity = len(closed) / (max(o.done for o in closed) - min(o.sent for o in closed))
    base_p99 = percentile(lat_ms, 99)
    metrics = {
        "setup_s": (setup_s, "s"),
        "cpu_ms_per_op": (cpu_s / (len(base) + len(closed)) * 1e3, "ms"),
    }
    # capacity, and latency from due time at the open-loop rate
    latency = {"op.per_s": capacity, "op.geomean_ms": geomean(list(route_medians.values())),
               "op.p50_ms": median(lat_ms), "op.tail_ms": tail}
    details = {
        "base_rate": BASE_RATE,
        "latency_ms": summary(lat_ms),
        "latency_pct_ms": {p: percentile(lat_ms, p) for p in (90, 95, 99)},
        "tail_percentile": p_tail,
        "route_median_ms": route_medians,
        "capacity_rps": capacity,
        "op": latency,
        # the open-loop rate meets the latency limit without a growing backlog
        "base_meets_limit": base_p99 <= LATENCY_LIMIT_MS and not backlog_grows(base),
        "gen_late_p99_ms": percentile([o.late * 1e3 for o in base], 99),
        "backlog_max": backlog_max(base),
    }
    layer = None
    if trace_out is not None:
        layer, details["span_counts"] = _layer_metrics(trace_out, base, latency)
    return metrics, layer, details


def _layer_metrics(trace_out: str, base, latency: dict) -> tuple[dict, dict]:
    with open(trace_out) as f:
        dump = json.load(f)
    spans = [Span(*row) for row in dump["spans"]]
    reqs = [s for s in spans if s.name == "server.request" and s.attrs.get("phase") == "measure"]
    ops = {s.op for s in reqs}
    mine = [s for s in spans if s.op in ops]
    m = layers.layer_metrics(mine, len(reqs))
    usage = Usage(**dump["usage"]) if dump["usage"] else Usage()
    m.update(layers.spark_metrics(usage, [(s.start, s.end) for s in reqs], len(reqs)))
    m["session.start_s"] = dump["session_start_s"]
    m["serve.gen_late_p99_ms"] = percentile([o.late * 1e3 for o in base], 99)
    m["serve.backlog_max"] = backlog_max(base)
    m.update(latency)
    m["trace.wrap_cost_us"] = layers.wrap_cost_us()
    return ({k: (v, layers.LAYER_METRICS[k]) for k, v in m.items()},
            layers.span_counts(spans))
