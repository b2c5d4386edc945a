"""batch_queries: one client runs a fixed slate of suite queries in a
closed loop; each timed call is the query function followed by
``.collect()``. The seed sets the query order within each pass."""

from __future__ import annotations

import functools
import json
import os
import random
import sys
import time

from perfbench import harness, layers
from perfbench.sparkstore import StatusStore, Usage
from perfbench.procmem import tree_cpu_seconds
from perfbench.stats import closed_loop_latency, median, summary

# three kinds of query: short relational/window/streaming/DFL queries
# where Spark driver time dominates; text chains whose executor CPU (the
# interpreted shingle and MinHash expressions) is most of their wall at
# the benchmark's document count; job-count-bound queries with eager
# collects and iterations (MinHash's banding, PageRank)
SLATE = (
    "pricing_summary",
    "window_topk_per_group",
    "tumbling_window_counts",
    "dfl_filter_hist",
    "decontaminate_ngram_overlap",
    "dedup_minhash_lsh",
    "pagerank_word_graph",
)
# the tables the slate reads
TABLES = ("lineitem", "orders", "events", "documents")
MIN_PASSES = 2
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


@functools.cache
def _value_hash():
    """The correctness gate's order-insensitive digest, imported from the
    repository's own checker (whose import edits sys.path; undone here)."""
    saved = list(sys.path)
    try:
        from tools.check_correctness import value_hash
    finally:
        sys.path[:] = saved
    return value_hash


def digest(df_rows, columns) -> dict:
    rows = [tuple(r) for r in df_rows]
    return {"rows": len(rows), "hash": _value_hash()(rows, columns)}


def run(r: harness.Run) -> tuple[dict, dict, dict]:
    tables = os.path.join(r.work, "tables")
    harness.write_inputs(tables, TABLES)
    with open(DIGESTS) as f:
        expected = json.load(f)["queries"]
    from railgun_spark import suite

    spark, start_s = harness.start_session(r.tracer)
    registry = suite.all_queries()
    store = None
    if r.tracer is not None:
        layers.install(r.tracer, type(spark.range(1)))
        store = StatusStore(spark)
    rng = random.Random(r.seed)

    records: list[dict] = []

    def one(name: str, op: str) -> dict | None:
        try:
            return timed(name, op)
        except Exception as e:  # a failing query is counted, the run goes on
            r.check(False, f"{name}: {e!r}"[:500])
            return None

    def timed(name: str, op: str) -> dict:
        fn = registry[name]
        tr = r.tracer
        lo = store.next_job_id() if store else 0
        c0 = tree_cpu_seconds(r.rss.root)
        w0 = time.time()
        t0 = time.perf_counter()
        if tr is None:
            df = fn(spark, tables)
            t1 = time.perf_counter()
            rows = df.collect()
            mid = 0
        else:
            tr.op = op
            with tr.span("batch.op", op=op):
                tr.root = tr.current()
                with tr.span("operators.build"):
                    df = fn(spark, tables)
                t1 = time.perf_counter()
                mid = store.next_job_id()
                rows = df.collect()
            tr.root = None
        t2 = time.perf_counter()
        rec = {"name": name, "op": op, "wall": t2 - t0, "build": t1 - t0,
               "cpu": tree_cpu_seconds(r.rss.root) - c0, "interval": (w0, w0 + (t2 - t0))}
        got = digest(rows, df.columns)
        want = expected.get(name)
        r.check(got == want, f"{name}: got {got}, recorded {want}")
        if store:
            hi = store.next_job_id()
            rec["build_jobs"] = mid - lo
            rec["usage"] = store.usage(lo, hi)
        return rec

    order = list(SLATE)
    rng.shuffle(order)
    for name in order:  # untimed warm-up pass; its checks count too
        one(name, f"warm:{name}")
    setup_s = r.begin_timed()
    passes: list[float] = []
    t_start = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start < r.seconds:
        rng.shuffle(order)
        done = [one(name, f"p{len(passes)}:{name}") for name in order]
        done = [x for x in done if x is not None]
        records.extend(done)
        # a pass's wall is its queries' walls, without the checks
        passes.append(sum(x["wall"] for x in done))

    # a query that failed every call has no samples and is left out
    per_query = {n: [x["wall"] for x in records if x["name"] == n] for n in SLATE}
    per_query = {n: v for n, v in per_query.items() if v}
    walls_ms = [x["wall"] * 1e3 for x in records]
    latency = closed_loop_latency([median(v) * 1e3 for v in per_query.values()])
    latency["op.per_s"] = len(SLATE) / median(passes) if median(passes) else 0.0
    metrics = {
        "setup_s": (setup_s, "s"),
        "cpu_ms_per_op": (sum(x["cpu"] for x in records) / max(1, len(records)) * 1e3, "ms"),
    }
    details = {
        "scale": harness.DATA_SCALE,
        "slate": list(SLATE),
        "passes_s": passes,
        "batch_pass_s": median(passes),
        "op_ms": summary(walls_ms),
        "query_median_s": {n: median(v) for n, v in per_query.items()},
        "session_start_s": start_s,
        "op": latency,
    }
    layer = None
    if r.tracer is not None:
        r.tracer.unpatch()
        layer = _layer_metrics(r.tracer, records, start_s, latency)
        details["span_counts"] = layers.span_counts(r.tracer.spans)
    return metrics, layer, details


def _layer_metrics(tracer, records: list[dict], start_s: float, latency: dict) -> dict:
    ops = {x["op"] for x in records}
    m = layers.layer_metrics([s for s in tracer.spans if s.op in ops], len(records))
    usage = Usage()
    for x in records:
        usage.add(x["usage"])
    m.update(layers.spark_metrics(usage, [x["interval"] for x in records], len(records)))
    m["session.start_s"] = start_s
    m["operators.build_jobs"] = sum(x["build_jobs"] for x in records) / max(1, len(records))
    m.update(latency)
    m["trace.wrap_cost_us"] = layers.wrap_cost_us()
    units = layers.per_layer_units()
    for name in SLATE:
        mine = [x for x in records if x["name"] == name]
        if not mine:  # failed every call: reads 0
            continue
        m[f"q.{name}.wall_s"] = median([x["wall"] for x in mine])
        m[f"q.{name}.build_s"] = median([x["build"] for x in mine])
        m[f"q.{name}.jobs"] = median([x["usage"].jobs for x in mine])
        m[f"q.{name}.executor_cpu_s"] = median([x["usage"].executor_cpu_s for x in mine])
    return {k: (v, units[k]) for k, v in m.items()}
