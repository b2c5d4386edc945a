"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload batch_queries --seed 1 --seconds 20 --trace 0

Run from the root of a checkout (the directory holding railgun_spark/).
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
engine's layer boundaries and prints the per-layer metrics instead. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import sys

WORKLOADS = ("batch_queries", "serve_tiles", "etl_process")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "railgun_spark", "__init__.py")):
        print(f"perfbench: no railgun_spark/ under {root}; run from a checkout's root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import batch, etl, harness, layers, serve
    from perfbench.procmem import RssSampler
    from perfbench.trace import Tracer

    # a terminated run still stops the processes it started and removes
    # its scratch directory (the finally blocks run on SystemExit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(root, harness.WORK_DIR, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        harness.engine_env(root, work)
        fn = {"batch_queries": batch.run, "serve_tiles": serve.run, "etl_process": etl.run}
        with RssSampler() as rss:
            r = harness.Run(
                root=root, work=work, workload=args.workload, seed=args.seed,
                seconds=args.seconds, tracer=Tracer() if args.trace else None, rss=rss,
            )
            try:
                e2e, layer, details = fn[args.workload](r)
            finally:
                harness.stop_engine()
        # JVM heap sizing is adaptive, so resident memory moves by a fifth
        # from run to run: it is a per-layer figure, not a bounded one
        memory = {"process.rss_mb": rss.median_mb(r.timed_start),
                  "process.peak_rss_mb": rss.peak_mb()}
        details["memory_mb"] = memory
        if layer is not None:
            layer.update({k: (v, "MiB") for k, v in memory.items()})
            # a layer or query the workload does not reach reads 0
            layer = {k: layer.get(k, (0.0, u)) for k, u in layers.per_layer_units().items()}
        details["provenance"] = harness.provenance(root, args.seed, bool(args.trace), args.workload)
        if args.trace:
            # the traced run's own end-to-end figures, for the overhead
            details["traced_end_to_end"] = {k: v for k, (v, _) in e2e.items()}
        harness.emit(r, layer if args.trace else e2e, details)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
