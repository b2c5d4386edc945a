"""etl_process: one client runs a chain of railgun CLI commands in
process through ``railgun_spark.cli.main(argv)``; the Spark session is
started once, in set-up. The seed picks the filter constants, not the
input sizes. Outputs are read back and checked after each pass, outside
the timed region."""

from __future__ import annotations

import gzip
import json
import os
import random
import time

import pyarrow.parquet as pq
import yaml

from perfbench import harness, layers
from perfbench.datagen import tile_xy, write_points
from perfbench.sparkstore import StatusStore, Usage
from perfbench.procmem import tree_cpu_seconds
from perfbench.stats import closed_loop_latency, median, summary
from perfbench.trace import Tracer

FANOUT_ZOOM = 4  # ~220 tile partitions of the points
MIN_PASSES = 3
STEPS = ("convert", "stream", "fanout", "hist")


def _part_files(path: str, suffix: str) -> list[str]:
    return sorted(
        os.path.join(dp, f) for dp, _, fs in os.walk(path) for f in fs
        if f.startswith("part-") and f.endswith(suffix)
    )


class Chain:
    """The four commands of one pass, their inputs and the checks of
    their outputs."""

    def __init__(self, tables: str, out: str, rng: random.Random) -> None:
        self.tables, self.out = tables, out
        self.points = os.path.join(out, "points.parquet")
        write_points(self.points, os.path.join(tables, "events.parquet"))
        # narrow ranges: each filter keeps about the same share of rows
        # (half the lineitems, most points, a third of the orders) on
        # every seed, so the seed changes the rows, not the amount of work
        self.qmin = rng.randint(24, 27)
        self.vmin = round(rng.uniform(20.0, 40.0), 2)
        self.pmin = round(rng.uniform(320_000.0, 340_000.0), 2)
        self.csv = os.path.join(out, "lineitem.csv.gz")
        self.jsonl = os.path.join(out, "lines.jsonl")
        self.tiles = os.path.join(out, "tiles")
        self.hist = os.path.join(out, "hist.yaml")
        self._expected()

    def argv(self, step: str) -> list[str]:
        lineitem = os.path.join(self.tables, "lineitem.parquet")
        orders = os.path.join(self.tables, "orders.parquet")
        if step == "convert":
            return ["convert", "--input-uri", lineitem, "--output-uri", self.csv]
        if step == "stream":
            # geonames.dfl shape: drop with a null, reshape with a dict
            dfl = ("(float64(@l_quantity) < $qmin) ? null : {order: int64(@l_orderkey), "
                   "qty: float64(@l_quantity), flag: @l_returnflag}")
            return ["process", "--stream", "--input-uri", self.csv, "--output-uri", self.jsonl,
                    "--dfl", dfl, "--dfl-vars", json.dumps({"qmin": self.qmin})]
        if step == "fanout":
            # geonames.sh:49 shape: the output uri is a DFL expression
            uri = f"'{self.tiles}/' + tileX(@lon, {FANOUT_ZOOM}) + '-' + tileY(@lat, {FANOUT_ZOOM})"
            return ["process", "--input-uri", self.points, "--output-uri", uri,
                    "--dfl", "filter(@, '@value > $vmin')",
                    "--dfl-vars", json.dumps({"vmin": self.vmin})]
        return ["process", "--input-uri", orders, "--output-uri", self.hist,
                "--dfl", "filter(@, '@o_totalprice > $pmin') | hist(@, '@o_orderpriority')",
                "--dfl-vars", json.dumps({"pmin": self.pmin})]

    def inputs(self, step: str) -> str:
        return {
            "convert": os.path.join(self.tables, "lineitem.parquet"),
            "stream": self.csv,
            "fanout": self.points,
            "hist": os.path.join(self.tables, "orders.parquet"),
        }[step]

    def output(self, step: str) -> str:
        return {"convert": self.csv, "stream": self.jsonl, "fanout": self.tiles,
                "hist": self.hist}[step]

    def _expected(self) -> None:
        li = pq.read_table(os.path.join(self.tables, "lineitem.parquet"),
                           columns=["l_quantity"]).column(0).to_pylist()
        self.n_lines = len(li)
        self.n_kept = sum(1 for q in li if q >= self.qmin)
        pts = pq.read_table(self.points, columns=["lon", "lat", "value"]).to_pydict()
        kept = [(lon, lat) for lon, lat, v in zip(pts["lon"], pts["lat"], pts["value"])
                if v > self.vmin]
        self.n_points = len(kept)
        self.n_tiles = len({tile_xy(lon, lat, FANOUT_ZOOM) for lon, lat in kept})
        orders = pq.read_table(os.path.join(self.tables, "orders.parquet"),
                               columns=["o_totalprice", "o_orderpriority"]).to_pydict()
        hist: dict[str, int] = {}
        for p, k in zip(orders["o_totalprice"], orders["o_orderpriority"]):
            if p > self.pmin:
                hist[k] = hist.get(k, 0) + 1
        self.hist_counts = hist

    def check(self, step: str) -> bool:
        if step == "convert":
            rows = 0
            for f in _part_files(self.csv, ".csv.gz"):
                with gzip.open(f, "rt") as fh:
                    rows += sum(1 for _ in fh) - 1  # header line per part
            return rows == self.n_lines
        if step == "stream":
            rows = []
            for f in _part_files(self.jsonl, ".json"):
                with open(f) as fh:
                    rows.extend(json.loads(line) for line in fh if line.strip())
            return len(rows) == self.n_kept and all(
                set(r) == {"order", "qty", "flag"} and r["qty"] >= self.qmin for r in rows)
        if step == "fanout":
            files = _part_files(self.tiles, ".parquet")
            n = sum(pq.read_metadata(f).num_rows for f in files)
            return len({os.path.dirname(f) for f in files}) == self.n_tiles and n == self.n_points
        with open(self.hist) as fh:
            got = {r["key"]: r["count"] for r in yaml.safe_load(fh)}
        return got == self.hist_counts


def run(r: harness.Run) -> tuple[dict, dict | None, dict]:
    tables = os.path.join(r.work, "tables")
    harness.write_inputs(tables, ("lineitem", "orders", "events"))
    out = os.path.join(r.work, "etl")
    os.makedirs(out)
    chain = Chain(tables, out, random.Random(r.seed))
    spark, start_s = harness.start_session(r.tracer)
    from railgun_spark import cli

    main = cli.main
    tr: Tracer | None = r.tracer
    store = None
    if tr is not None:
        layers.install(tr, type(spark.range(1)))
        main = tr.wrap(cli.main, "cli.main")
        store = StatusStore(spark)
    records: list[dict] = []

    def one_pass(tag: str) -> list[dict]:
        recs = []
        for step in STEPS:
            argv = chain.argv(step)
            read = layers.path_bytes(chain.inputs(step))
            op = f"{tag}:{step}"
            if tr is not None:
                tr.op = op
            lo = store.next_job_id() if store else 0
            c0 = tree_cpu_seconds(r.rss.root)
            w0 = time.time()
            t0 = time.perf_counter()
            try:
                rc = main(argv)
            except Exception as e:  # a failing command is counted, the run goes on
                r.check(False, f"{step}: {e!r}"[:500])
                continue
            wall = time.perf_counter() - t0
            cpu = tree_cpu_seconds(r.rss.root) - c0
            ok = r.check(rc == 0 and chain.check(step), f"{step}: rc={rc} or wrong output")
            if ok:
                rec = {"step": step, "op": op, "wall": wall, "cpu": cpu, "read": read,
                       "written": layers.path_bytes(chain.output(step)),
                       "interval": (w0, w0 + wall)}
                if store:
                    rec["usage"] = store.usage(lo, store.next_job_id())
                recs.append(rec)
        if tr is not None:
            tr.op = None
        return recs

    one_pass("warm")  # untimed warm-up pass; its checks count too
    setup_s = r.begin_timed()
    passes: list[float] = []
    t_start = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start < r.seconds:
        done = one_pass(f"p{len(passes)}")
        records.extend(done)
        passes.append(sum(x["wall"] for x in done))

    per_step = {s: [x["wall"] * 1e3 for x in records if x["step"] == s] for s in STEPS}
    walls_ms = [x["wall"] * 1e3 for x in records]
    latency = closed_loop_latency([median(v) for v in per_step.values() if v])
    write_amp = sum(x["written"] for x in records) / max(1, sum(x["read"] for x in records))
    metrics = {
        "setup_s": (setup_s, "s"),
        "cpu_ms_per_op": (sum(x["cpu"] for x in records) / max(1, len(records)) * 1e3, "ms"),
    }
    latency["op.per_s"] = len(STEPS) / median(passes) if median(passes) else 0.0
    details = {
        "passes_s": passes,
        "etl_pass_s": median(passes),
        "op_ms": summary(walls_ms),
        "step_median_ms": {s: median(v) for s, v in per_step.items() if v},
        "write_amp": write_amp,
        "constants": {"qmin": chain.qmin, "vmin": chain.vmin, "pmin": chain.pmin},
        "expected": {"tiles": chain.n_tiles, "points": chain.n_points, "lines": chain.n_kept},
        "session_start_s": start_s,
        "op": latency,
    }
    layer = None
    if tr is not None:
        tr.unpatch()
        ops = {x["op"] for x in records}
        m = layers.layer_metrics([s for s in tr.spans if s.op in ops], len(records))
        usage = Usage()
        for x in records:
            usage.add(x["usage"])
        m.update(layers.spark_metrics(usage, [x["interval"] for x in records], len(records)))
        m["session.start_s"] = start_s
        m["etl.write_amp"] = write_amp
        for s in STEPS:
            m[f"etl.{s}_s"] = median(per_step[s]) / 1e3 if per_step[s] else 0.0
        m.update(latency)
        m["trace.wrap_cost_us"] = layers.wrap_cost_us()
        layer = {k: (v, layers.LAYER_METRICS[k]) for k, v in m.items()}
        details["span_counts"] = layers.span_counts(tr.spans)
    return metrics, layer, details
