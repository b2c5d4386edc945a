"""Layer boundaries of the engine and the per-layer metrics built from them.

``install`` wraps the public function at each layer boundary (named after
the engine's modules) in a tracer span; ``layer_metrics`` turns the spans
and the Spark status-store usage of the timed operations into the
``per_layer`` metrics of BENCHMARK.json.
"""

from __future__ import annotations

import functools
import os
import time

from perfbench.stats import percentile
from perfbench.trace import Tracer, self_times

ROUTES = ("data", "mask", "exec", "items")

# layer metrics every workload reports (0 where the workload does not
# reach the layer); workload-specific ones are added by the workloads
LAYER_METRICS = {
    "session.start_s": "s",
    "cli.main_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "spark.collect_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.stage_wall_s": "s",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.input_bytes": "B",
    "spark.output_bytes": "B",
    "dfl.run_pipeline_s": "s",
    "dfl.process_s": "s",
    "dfl.calls": "count",
    "sources.read_s": "s",
    "sources.write_s": "s",
    "sources.bytes_written": "B",
    "sources.calls": "count",
    "plans.process_uri_s": "s",
    "plans.analyze_output_uri_s": "s",
    "catalog.load_datastore_s": "s",
    "catalog.df_hit_ratio": "ratio",
    "catalog.tile_hit_ratio": "ratio",
    "catalog.grid_hit_ratio": "ratio",
    "catalog.exec_service_s": "s",
    "geo.tile_data_s": "s",
    "geo.mask_grid_s": "s",
    "geo.encode_s": "s",
    "server.self_s": "s",
    "server.body_hit_ratio": "ratio",
    **{f"serve.route.{r}_{p}_ms": "ms" for r in ROUTES for p in ("p50", "p99")},
    "serve.gen_late_p99_ms": "ms",
    "serve.backlog_max": "count",
    "etl.write_amp": "ratio",
    "etl.convert_s": "s",
    "etl.stream_s": "s",
    "etl.fanout_s": "s",
    "etl.hist_s": "s",
    "process.rss_mb": "MiB",
    "process.peak_rss_mb": "MiB",
    "op.per_s": "1/s",
    "op.geomean_ms": "ms",
    "op.p50_ms": "ms",
    "op.tail_ms": "ms",
    "trace.spans_per_op": "count",
    "trace.wrap_cost_us": "us",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, in BENCHMARK.json order:
    the layer metrics, then four per query of the batch slate."""
    from perfbench.batch import SLATE

    units = dict(LAYER_METRICS)
    for q in SLATE:
        units.update({f"q.{q}.wall_s": "s", f"q.{q}.build_s": "s", f"q.{q}.jobs": "count",
                      f"q.{q}.executor_cpu_s": "s"})
    return units


def path_bytes(path: str) -> int:
    """Bytes under a file or directory (0 when absent)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def install(tracer: Tracer, dataframe_cls) -> None:
    """Wrap every layer boundary; ``tracer.unpatch()`` undoes it."""
    # import every module that binds a wrapped function at import time,
    # so each binding is found and patched
    import railgun_spark.cli  # noqa: F401
    import railgun_spark.server as server
    from railgun_spark import suite
    from railgun_spark.catalog.registry import Catalog
    from railgun_spark.dfl import compiler
    from railgun_spark.geo import serving
    from railgun_spark.plans import process as plans
    from railgun_spark.sources import formats

    suite.all_queries()
    tracer.patch(dataframe_cls, "collect", "spark.collect")
    tracer.patch_function(compiler.run_pipeline, "dfl.run_pipeline")
    tracer.patch_function(compiler.process, "dfl.process")
    tracer.patch_function(formats.read, "sources.read")
    tracer.patch_function(formats.write, "sources.write", _sized_write(tracer, formats.write))
    tracer.patch_function(plans.process_uri, "plans.process_uri")
    tracer.patch_function(plans.analyze_output_uri, "plans.analyze_output_uri")
    for method in ("load_datastore", "layer_tile_features", "layer_mask_grid", "exec_service"):
        tracer.patch(Catalog, method, f"catalog.{method}")
    tracer.patch_function(serving.tile_data, "geo.tile_data")
    tracer.patch_function(serving.tile_mask_grid, "geo.mask_grid")
    tracer.patch_function(serving.grid_to_image, "geo.encode")
    tracer.patch_function(serving.feature_collection, "geo.feature_collection")
    tracer.patch_function(server._render, "server.render")


def _sized_write(tracer: Tracer, write):
    """``formats.write`` in a span that also records the bytes the write
    left on disk."""

    @functools.wraps(write)
    def sized(df, path, *args, **kwargs):
        with tracer.span("sources.write") as attrs:
            write(df, path, *args, **kwargs)
            attrs["bytes"] = path_bytes(path)

    return sized


def wrap_cost_us(n: int = 20000) -> float:
    """Cost of one traced call of an empty function, in microseconds."""
    t = Tracer()
    f = t.wrap(lambda: None, "x")
    start = time.perf_counter()
    for _ in range(n):
        f()
    return (time.perf_counter() - start) / n * 1e6


def _ratio_hits(lookups: int, computes: int) -> float:
    return 1.0 - computes / lookups if lookups else 0.0


def layer_metrics(spans: list, n_ops: int) -> dict[str, float]:
    """Per-op means of span time and counts over the given spans."""
    n = max(1, n_ops)
    tot: dict[str, float] = {}
    calls: dict[str, int] = {}
    for s in spans:
        tot[s.name] = tot.get(s.name, 0.0) + s.duration
        calls[s.name] = calls.get(s.name, 0) + 1
    selfs = self_times(spans)
    req_self = sum(selfs[s.sid] for s in spans if s.name == "server.request")
    m = {k: 0.0 for k in LAYER_METRICS}
    m.update({
        "cli.main_s": tot.get("cli.main", 0.0) / n,
        "operators.build_s": tot.get("operators.build", 0.0) / n,
        "spark.collect_s": tot.get("spark.collect", 0.0) / n,
        "dfl.run_pipeline_s": tot.get("dfl.run_pipeline", 0.0) / n,
        "dfl.process_s": tot.get("dfl.process", 0.0) / n,
        "dfl.calls": (calls.get("dfl.run_pipeline", 0) + calls.get("dfl.process", 0)) / n,
        "sources.read_s": tot.get("sources.read", 0.0) / n,
        "sources.write_s": tot.get("sources.write", 0.0) / n,
        "sources.bytes_written": sum(
            s.attrs.get("bytes", 0) for s in spans if s.name == "sources.write") / n,
        "sources.calls": (calls.get("sources.read", 0) + calls.get("sources.write", 0)) / n,
        "plans.process_uri_s": tot.get("plans.process_uri", 0.0) / n,
        "plans.analyze_output_uri_s": tot.get("plans.analyze_output_uri", 0.0) / n,
        "catalog.load_datastore_s": tot.get("catalog.load_datastore", 0.0) / n,
        "catalog.df_hit_ratio": _ratio_hits(
            calls.get("catalog.load_datastore", 0), calls.get("sources.read", 0)),
        "catalog.tile_hit_ratio": _ratio_hits(
            calls.get("catalog.layer_tile_features", 0), calls.get("geo.tile_data", 0)),
        "catalog.grid_hit_ratio": _ratio_hits(
            calls.get("catalog.layer_mask_grid", 0), calls.get("geo.mask_grid", 0)),
        "catalog.exec_service_s": tot.get("catalog.exec_service", 0.0) / n,
        "geo.tile_data_s": tot.get("geo.tile_data", 0.0) / n,
        "geo.mask_grid_s": tot.get("geo.mask_grid", 0.0) / n,
        "geo.encode_s": (tot.get("geo.encode", 0.0) + tot.get("server.render", 0.0)) / n,
        "server.self_s": req_self / n,
        "trace.spans_per_op": len(spans) / n,
    })
    reqs = [s for s in spans if s.name == "server.request"]
    if reqs:
        body_lookups = sum(1 for s in reqs if s.attrs.get("route") in ("data", "mask"))
        m["server.body_hit_ratio"] = _ratio_hits(
            body_lookups, calls.get("geo.encode", 0) + calls.get("geo.feature_collection", 0))
        for route in ROUTES:
            lat = [s.duration * 1e3 for s in reqs if s.attrs.get("route") == route]
            if lat:
                m[f"serve.route.{route}_p50_ms"] = percentile(lat, 50)
                m[f"serve.route.{route}_p99_ms"] = percentile(lat, 99)
    return m


def span_counts(spans: list) -> dict[str, int]:
    """Spans recorded per name: the evidence that each layer was traced."""
    counts: dict[str, int] = {}
    for s in spans:
        counts[s.name] = counts.get(s.name, 0) + 1
    return dict(sorted(counts.items()))


def spark_metrics(usage, op_intervals: list, n_ops: int) -> dict[str, float]:
    n = max(1, n_ops)
    return {
        "spark.jobs": usage.jobs / n,
        "spark.stages": usage.stages / n,
        "spark.tasks": usage.tasks / n,
        "spark.failed_tasks": usage.failed_tasks / n,
        "spark.stage_wall_s": usage.stage_wall_s() / n,
        "spark.driver_gap_s": usage.driver_gap_s(op_intervals) / n,
        "spark.executor_run_s": usage.executor_run_s / n,
        "spark.executor_cpu_s": usage.executor_cpu_s / n,
        "spark.shuffle_read_bytes": usage.shuffle_read_bytes / n,
        "spark.shuffle_write_bytes": usage.shuffle_write_bytes / n,
        "spark.spill_bytes": usage.spill_bytes / n,
        "spark.input_bytes": usage.input_bytes / n,
        "spark.output_bytes": usage.output_bytes / n,
    }
