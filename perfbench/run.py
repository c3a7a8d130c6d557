"""Benchmark of the Singer target and its query surface, end to end and
per layer.

    python3 perfbench/run.py --workload {ingest,query} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. One process, one client submitting each
operation after the previous one finishes (closed loop), Spark pinned to
``local[nproc]``. A run generates its inputs from the seed, starts the
session, makes one cold pass and the workload's warm-up passes, then
the warm passes that fit in ``--seconds`` (at least the workload's
least number), checks every operation's output, and prints as its
last stdout line one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics: ``setup_s``, process
start to a ready session (``get_spark`` plus a trivial job, input
generation excluded), and the CPU seconds of the cold pass and of the
median warm pass, counted over this process, the Spark JVM and its
Python workers. CPU time is the gate because it is the pipeline's
compute cost and, unlike wall time, does not grow with time the
hypervisor steals from a shared host; wall times are reported too. ``--trace 1`` reports the per-layer metrics of
``layers.py``: after the untraced warm passes it restarts the session
with a Spark event log and runs traced warm passes. The line before the
result holds the run's configuration, input sizes, host noise and every
operation's time.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

ROOT = harness.ROOT
sys.path.insert(0, ROOT)

SIZES = {
    "ingest": {"records": 6_000, "streams": 3, "chunks": 1},
    "query": {"scale": 0.5},
}
# (warm-up passes, least warm passes). Warm-up passes run between the
# cold and the warm ones and are left out of the warm figures. On a
# 4-core host a ``query`` pass took 24, 19, then about 15 CPU seconds as
# the JVM compiled, and a busy neighbour could add a fifth to any single
# 7-second pass, so ``query`` skips the steepest pass and takes the median
# of three. An ``ingest`` pass is twice as long and the run budget holds
# one.
PASSES = {"ingest": (0, 1), "query": (1, 3)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(SIZES), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", help="JSON object overriding the workload's input size")
    args = ap.parse_args()

    # the program itself: a checkout without it fails here
    import pyarrow
    import pyspark

    import target_s3_parquet_spark.session  # noqa: F401

    import host
    import spans
    import workloads

    import_age = harness.process_age()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    config = harness.configure_env(os.path.join(work, "tmp"))
    config.update(spark=pyspark.__version__, pyarrow=pyarrow.__version__, seed=args.seed)
    size = dict(SIZES[args.workload], **json.loads(args.size or "{}"))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    noise_before = host.snapshot()
    spark = None
    stack = contextlib.ExitStack()
    try:
        wl = workloads.WORKLOADS[args.workload](work, args.seed, size)

        if args.trace:
            rss = stack.enter_context(host.PeakRss())
        t0 = time.perf_counter()
        spark = harness.start_session()
        get_spark_s = time.perf_counter() - t0
        setup_main = import_age + get_spark_s
        off = spans.Tracer(run_id, enabled=False)

        cold, warmup, warm = harness.Ops(), harness.Ops(), harness.Ops()
        warm_seconds = args.seconds / 2 if args.trace else args.seconds
        n_warmup, least = PASSES[args.workload]
        harness.run_passes(wl, spark, off, cold, 0, 1)
        harness.run_passes(wl, spark, off, warmup, 0, n_warmup)
        harness.run_passes(wl, spark, off, warm, warm_seconds, least)
        phases = [cold, warmup, warm]
        details = {
            "workload": args.workload,
            "config": config,
            "sizes": wl.sizes,
            "loop": "closed, 1 client",
            "cold_ops": cold.all(),
            "warmup_ops": warmup.all(),
            "warm_ops": warm.all(),
        }
        warm_s = statistics.median(warm.walls())

        if args.trace:
            import layers

            metrics, traced = layers.traced_phase(
                wl, spark, work, out_dir, args.seconds / 2, run_id
            )
            spark = traced.spark
            phases += [traced.rewarm, traced.ops]
            # wall-clock figures of the untraced passes above
            records = wl.records * (2 if args.workload == "ingest" else 1)
            for name, value in [
                ("session.get_spark.s", get_spark_s),
                ("cold_wall_s", cold.walls()[0]),
                ("warm_wall_s", warm_s),
                ("records_per_s", records / warm_s),
                ("trace.overhead_s", metrics["trace.warm_wall_s"]["value"] - warm_s),
                ("peak_rss_mb", rss.peak),
            ]:
                metrics[name]["value"] = value
            details.update(traced_ops=traced.ops.all(), span_file=traced.span_file)
        else:
            metrics = {
                "setup_s": {"value": setup_main, "unit": "s"},
                "cold_cpu_s": {"value": cold.cpus()[0], "unit": "s"},
                "warm_cpu_s": {"value": statistics.median(warm.cpus()), "unit": "s"},
            }
            details.update(
                warm_passes=len(warm.passes),
                warm_pass_cpu_s=warm.cpus(),
                cold_wall_s=cold.walls()[0],
                warm_wall_s=warm_s,
            )
        ops = [o for ph in phases for o in ph.all()]
        failed = sum(1 for *_, ok in ops if not ok)
        details["failed_ops"] = [op for op, *_, ok in ops if not ok]
        details["host_noise"] = host.noise(noise_before, host.snapshot())
        print(json.dumps(details))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": len(ops),
                    "failed": failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        stack.close()
        if spark is not None:
            harness.stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
