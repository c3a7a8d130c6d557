"""Process and session plumbing shared by the untraced and traced runs."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

import host

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(tmp: str) -> dict:
    """Pin Spark to every visible core, let Python workers import the
    program, size the JVM heap to a quarter of host memory (at most
    4g), and keep the temporary files of Python, the JVM and Spark under
    ``tmp``."""
    os.makedirs(tmp, exist_ok=True)
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[var] = tmp
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp
    for var, flags in (
        ("SPARK_SUBMIT_OPTS", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        ("SPARK_LAUNCHER_OPTS", "-XX:-UsePerfData"),
    ):
        os.environ[var] = f"{os.environ.get(var, '')} {flags}".strip()
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    heap = f"{max(1, min(4, int(mem_gb / 4)))}g"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = heap
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    return {"cores": nproc(), "jvm_heap": heap}


def process_age() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def start_session(extra_conf: dict | None = None):
    """``get_spark`` plus a trivial warm-up job: a ready session."""
    from target_s3_parquet_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=extra_conf)
    spark.range(1000).selectExpr("sum(id) AS s").collect()
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Timer:
    """Wall and CPU seconds of a block; the CPU counters are read outside
    the wall interval."""

    def __enter__(self):
        self.cpu0 = host.tree_cpu_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        self.cpu = host.tree_cpu_s() - self.cpu0


class Ops:
    """Per-operation (name, wall seconds, CPU seconds, correct) records,
    grouped by pass."""

    def __init__(self):
        self.passes: list[list[tuple[str, float, float, bool]]] = []

    def new_pass(self):
        ops: list[tuple[str, float, float, bool]] = []
        self.passes.append(ops)

        def record(op: str, t: Timer, ok: bool) -> None:
            ops.append((op, t.wall, t.cpu, ok))
            print(
                f"# {op}: {t.wall:.3f}s wall {t.cpu:.2f}s cpu{'' if ok else ' WRONG'}",
                file=sys.stderr,
                flush=True,
            )

        return record

    def walls(self) -> list[float]:
        """Per pass: the summed wall time of its operations."""
        return [sum(o[1] for o in p) for p in self.passes]

    def cpus(self) -> list[float]:
        """Per pass: the summed CPU time of its operations."""
        return [sum(o[2] for o in p) for p in self.passes]

    def all(self) -> list[tuple[str, float, float, bool]]:
        return [o for p in self.passes for o in p]


def run_passes(wl, spark, tracer, ops: Ops, seconds: float, min_passes: int) -> None:
    """Closed loop: at least ``min_passes`` passes back to back, then more
    while the next one, as long as the median pass so far, still ends
    within ``seconds``, so the number of passes does not hinge on where
    the last one meets the deadline."""
    t0 = time.perf_counter()
    walls: list[float] = []
    while len(walls) < min_passes or (
        walls and time.perf_counter() - t0 + statistics.median(walls) <= seconds
    ):
        t = time.perf_counter()
        with tracer.span("pass"):
            wl.run_pass(spark, tracer, ops.new_pass())
        walls.append(time.perf_counter() - t)
