#!/usr/bin/env python3
"""Repository benchmark: one workload per call, on local[$SPARK_GRAFT_CPUS]
(default: the cores this process may run on).

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 10 --trace 0

Run from the repository root. Order of a run:

  1. launch the driver JVM and build the workload's inputs and oracle from
     the seed (untimed), then run one checked, untimed iteration;
  2. set up SETUP_REPS times: restart the SparkContext in the running JVM,
     do the workload's own set-up (store open or dictionary compile), run a
     warm-up pass on every core; ``setup_s`` is the median;
  3. closed loop, one job at a time, for ``--seconds`` and at least
     MIN_ITERS iterations; every iteration's written output is checked
     against the oracle, a failed check or an exception counts in
     ``failed``; ``rows_per_s`` is input rows over the median wall time;
     ``peak_rss_mb`` covers the driver, its JVM and every Python worker.

With ``--trace 1`` the same loop gives the untraced median, then one traced
iteration records spans, reads the stage manifests and the Spark REST API,
and driver-side microcalls time the kernels; only the per-layer metrics are
reported. Spans go to ``.perfbench_work/traces/``.

The last stdout line is the JSON result; the lines before it are a readable
summary. Working files live under ``.perfbench_work/`` in the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "iamsystem_python_spark")
SETUP_REPS = 3
MIN_ITERS = 3
# The heap is fixed and touched at launch, so the JVM's share of peak RSS
# does not depend on when the collector chose to grow the heap.
DRIVER_MEMORY = "1g"
TRACED_GROUP = "perfbench-traced"


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def _session(cpus: int, work: str, trace: bool):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={work}/tmp",
        )
        # SPARK_LOCAL_DIRS, when set, takes precedence over this
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "true" if trace else "false")
        .config("spark.ui.port", "0")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.log.level", "ERROR")
        .getOrCreate()
    )


def _run_iteration(spark, wl, out_dir: str, tracer):
    """(wall_s, recall, failure reason or None). Nothing is retried."""
    try:
        t0 = time.perf_counter()
        wl.iterate(spark, out_dir, tracer)
        wall = time.perf_counter() - t0
        with tracer.span("check"):
            ok, recall, reason = wl.check(out_dir)
    except Exception:
        traceback.print_exc()
        return None, 0.0, "raised"
    return wall, recall, None if ok else reason


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(PACKAGE):
        print(f"perfbench: package source not found at {PACKAGE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from layers import microcall_metrics, plan_metrics
    from probes import PeakRss, Tracer, spark_group_stats, stop_spark
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cpus = _cpus()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, run_id)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers import the package from this checkout and run on this
    # interpreter; temporary files stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    tracer = Tracer(run_id, enabled=bool(args.trace))
    off = Tracer(run_id, enabled=False)
    wl = WORKLOADS[args.workload](args.seed, cpus, work)
    spark = None
    try:
        with tracer.span("prepare"):
            # the driver builds inputs and oracles while the JVM launches
            with ThreadPoolExecutor(1) as pool:
                launch = pool.submit(_session, cpus, work, bool(args.trace))
                try:
                    wl.generate()
                finally:
                    spark = launch.result()
            wl.prepare(spark)
            wl.setup(spark)

        reasons = []
        # the JVM's compilers take a few runs of each query to settle: a
        # checked, untimed iteration before the set-up and the timed runs
        out_dir = os.path.join(work, "warmup")
        attempted = 1
        with tracer.span("warmup_iteration"):
            _, _, reason = _run_iteration(spark, wl, out_dir, off)
        shutil.rmtree(out_dir, ignore_errors=True)
        if reason is not None:
            reasons.append(reason)
        setup_times = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            with tracer.span("setup"):
                with tracer.span("spark.session_start"):
                    spark.stop()
                    spark = _session(cpus, work, bool(args.trace))
                with tracer.span(f"{wl.name}.setup"):
                    wl.setup(spark)
                with tracer.span(f"{wl.name}.warm_up"):
                    wl.warm_up(spark)
            setup_times.append(time.perf_counter() - t0)

        walls, recalls = [], []
        cpu_start = _cpu_times()
        with PeakRss() as rss:
            deadline = time.perf_counter() + args.seconds
            timed = 0
            while timed < MIN_ITERS or time.perf_counter() < deadline:
                out_dir = os.path.join(work, f"iter{attempted}")
                attempted += 1
                timed += 1
                wall, recall, reason = _run_iteration(spark, wl, out_dir, off)
                shutil.rmtree(out_dir, ignore_errors=True)
                if wall is not None:
                    walls.append(wall)
                    recalls.append(recall)
                if reason is not None:
                    reasons.append(reason)
        steal = _steal_share(cpu_start, _cpu_times())
        median_wall = statistics.median(walls) if walls else float("nan")

        notes = []
        if args.trace:
            out_dir = os.path.join(work, "traced")
            spark.sparkContext.setJobGroup(TRACED_GROUP, "traced iteration")
            attempted += 1
            with tracer.span("iteration") as it:
                wall, recall, reason = _run_iteration(spark, wl, out_dir, tracer)
            if reason is not None:
                reasons.append(reason)
            if wall is None:  # the iteration raised: time it by its span
                wall = it["end"] - it["start"]
            runner = next(s for s in tracer.spans if s["parent"] == it["id"])
            metrics, notes = plan_metrics(out_dir, runner["end"] - runner["start"])
            metrics.update(spark_group_stats(spark.sparkContext, TRACED_GROUP, wall, cpus))
            metrics.update(microcall_metrics(wl.sample_texts, args.seed, tracer))
            metrics["trace.overhead_s"] = wall - median_wall
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.write(os.path.join(traces, f"{run_id}.json"))
        else:
            metrics = {
                "rows_per_s": wl.rows / median_wall if walls else 0.0,
                "setup_s": statistics.median(setup_times),
                "peak_rss_mb": rss.peak_mb,
                "recall": min(recalls) if recalls else 0.0,
            }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = len(reasons)
    print(
        f"workload={args.workload} seed={args.seed} cpus={cpus} rows={wl.rows} "
        f"fresh_page_mb_s={fresh_page_mb_s():.0f} steal_share={steal:.3f} "
        f"iterations={attempted} failed_frac={failed / attempted:.4f} ratio "
        f"walls_s={[round(w, 3) for w in walls]} setup_s={[round(s, 3) for s in setup_times]}"
    )
    for reason in reasons:
        print(f"failed: {reason}")
    for note in notes:
        print(f"note: {note}")
    # BENCHMARK.json names the metrics each mode reports, and their units
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer" if args.trace else "end_to_end"]
    for m in listed:
        print(f"{m['name']} = {metrics[m['name']]:.6g} {m['unit']}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
            for m in listed
        },
    }
    print(json.dumps(result))
    return 0


def fresh_page_mb_s(mb: int = 32) -> float:
    """First-touch page supply rate of the host, recorded as context for
    the run's timings (never used to gate or correct them)."""
    import numpy as np

    t0 = time.perf_counter()
    np.ones(mb * 1024 * 1024 // 8, dtype=np.int64)
    return mb / (time.perf_counter() - t0)


def _cpu_times():
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def _steal_share(start, end) -> float:
    """Share of this machine's CPU time that its hypervisor took for other
    guests (``steal`` in /proc/stat) between two readings: context for the
    timings, like the fresh-page rate."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


if __name__ == "__main__":
    sys.exit(main())
