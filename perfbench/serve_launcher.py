"""Start the engine's catalog + query HTTP server the way
``railgun_spark serve`` does (one Spark session, a catalog loaded from a
file, ``create_app``, a threaded werkzeug server), on a free local port
printed as ``PORT <n>``. SIGTERM stops it.

With ``--trace-out`` the launcher first wraps the engine's layer
boundaries and the WSGI app (a request span per request, tagged with the
``X-Request-Id`` and ``X-Bench-Phase`` headers), and on exit writes the
spans and the Spark status-store usage of the measured requests there.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
import time


def route_of(path: str) -> str:
    if "/tiles/data/" in path:
        return "data"
    if "/tiles/mask/" in path:
        return "mask"
    if path.endswith(("/exec.json", "/exec.yaml")):
        return "exec"
    if "/items." in path:
        return "items"
    return "other"


def traced_app(app, tracer, on_first_measured):
    def wsgi(environ, start_response):
        phase = environ.get("HTTP_X_BENCH_PHASE", "")
        if phase == "measure":
            on_first_measured()
        with tracer.span("server.request", op=environ.get("HTTP_X_REQUEST_ID"),
                         route=route_of(environ.get("PATH_INFO", "")), phase=phase):
            # consume the body inside the span: encoding is request work
            return list(app(environ, start_response))

    return wsgi


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--catalog-uri", required=True)
    ap.add_argument("--trace-out", default=None)
    args = ap.parse_args(argv)
    sys.path.insert(0, os.getcwd())
    from werkzeug.serving import make_server

    from perfbench import harness, layers
    from perfbench.sparkstore import StatusStore
    from perfbench.trace import Tracer
    from railgun_spark.catalog.registry import Catalog
    from railgun_spark.server import create_app

    tracer = Tracer() if args.trace_out else None
    spark, start_s = harness.start_session(tracer, "railgun_serve")
    catalog = Catalog.load(spark, args.catalog_uri)
    app = create_app(catalog)
    first_job = []
    if tracer is not None:
        layers.install(tracer, type(spark.range(1)))
        store = StatusStore(spark)
        lock = threading.Lock()

        def mark() -> None:
            if not first_job:
                with lock:
                    if not first_job:
                        first_job.append(store.next_job_id())

        app.wsgi_app = traced_app(app.wsgi_app, tracer, mark)
    server = make_server("127.0.0.1", 0, app, threaded=True)
    signal.signal(signal.SIGTERM, lambda *_: threading.Thread(target=server.shutdown).start())
    print(f"PORT {server.server_port}", flush=True)
    os.dup2(2, 1)  # nobody reads the pipe after the port: later output goes to the log
    server.serve_forever()
    if tracer is not None:
        tracer.unpatch()
        usage = store.usage(first_job[0], store.next_job_id()) if first_job else None
        offset = time.time() - time.perf_counter()
        with open(args.trace_out, "w") as f:
            json.dump({
                "session_start_s": start_s,
                "spans": [[s.sid, s.name, s.start, s.end, s.parent, s.op, s.attrs]
                          for s in tracer.spans],
                # stage intervals moved onto the spans' perf_counter clock
                "usage": None if usage is None else {
                    **vars(usage),
                    "stage_intervals": [(a - offset, b - offset) for a, b in usage.stage_intervals],
                },
            }, f)
    harness.stop_engine()
    return 0


if __name__ == "__main__":
    sys.exit(main())
