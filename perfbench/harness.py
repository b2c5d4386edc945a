"""What every workload shares: the run's arguments, its scratch
directory inside the checkout, the Spark session, provenance and the
result line."""

from __future__ import annotations

import json
import os
import platform
import subprocess
import sys
import time
from dataclasses import dataclass, field

from perfbench.datagen import write_tables
from perfbench.procmem import tree_cpu_seconds
from perfbench.trace import Tracer

WORK_DIR = ".perfbench_work"
# generator seed of the batch tables: the recorded output digests hold
# for these bytes, so the run seed orders the queries instead
DATA_SEED = 42
DATA_SCALE = 0.01
# the documents table at its scale-0.1 size (5000 texts): at 500 the
# shingle and MinHash chains spent a fifth of their wall in executor CPU,
# at 5000 three fifths or more, which is the per-row cost they are in the
# slate to expose
DOCS_SCALE = 0.1


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def process_age_s() -> float:
    """Seconds since this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def engine_env(root: str, work: str) -> None:
    """Environment for the engine and every process it starts: the
    checkout on PYTHONPATH (Spark's Python workers import railgun_spark
    for Arrow and mapInPandas stages), the session sized to this
    machine's cores, and every scratch write kept inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus()))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def spark_conf(traced: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(os.environ["TMPDIR"], "warehouse"),
    }
    if traced:
        # keep every job and stage record for the status-store collector
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return conf


def write_inputs(out_dir: str, names: tuple[str, ...]) -> dict[str, int]:
    """The benchmark's tables, always the same bytes."""
    return write_tables(out_dir, names, scale=DATA_SCALE, seed=DATA_SEED, docs_scale=DOCS_SCALE)


def start_session(tracer: Tracer | None, app: str = "perfbench"):
    from railgun_spark.session import get_spark

    start = time.perf_counter()
    if tracer is None:
        spark = get_spark(app, extra_conf=spark_conf(False))
    else:
        with tracer.span("session.start"):
            spark = get_spark(app, extra_conf=spark_conf(True))
    return spark, time.perf_counter() - start


def stop_engine() -> None:
    """Stop this process's Spark session, if any, and wait for its JVM
    to exit (PySpark's JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def git_commit(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10,
            # never read a repository enclosing the checkout
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(root)},
        )
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def provenance(root: str, seed: int, traced: bool, workload: str) -> dict:
    java = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "traced": traced,
        "nproc": cpus(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "java": next((ln for ln in java.stderr.splitlines() if "version" in ln), "unknown"),
        "python": platform.python_version(),
        "commit": git_commit(root),
    }


@dataclass
class Run:
    root: str
    work: str
    workload: str
    seed: int
    seconds: float
    tracer: Tracer | None
    # peak-RSS sampler of the engine's process tree (a workload that
    # runs the engine in a child process points it at that child)
    rss: object = None
    # perf_counter time the timed work began (set-up ended)
    timed_start: float = 0.0
    _cpu0: float = 0.0
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def begin_timed(self) -> float:
        """Mark the end of set-up; return set-up time (process start to now)."""
        self.timed_start = time.perf_counter()
        self._cpu0 = tree_cpu_seconds(self.rss.root)
        return process_age_s()

    def timed_cpu_s(self) -> float:
        """CPU seconds the engine's process tree used since begin_timed."""
        return tree_cpu_seconds(self.rss.root) - self._cpu0

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked operation; a failed check is remembered."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok


def emit(run: Run, metrics: dict[str, tuple[float, str]], details: dict) -> None:
    """Detail line, then the result line (always the last line)."""
    print(json.dumps({"details": details, "failures": run.failures}, default=str))
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
