"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` (cached under ``.perfbench_work/inputs``), launches Spark and
stages the workload's inputs (untimed), sets the workload up ``SETUPS``
times in fresh sessions of that JVM and keeps the last one, runs the
workload's ``warmup_passes`` untimed passes so the JIT has settled, then
runs its passes back to back until the summed op time reaches
``--seconds``. Every op's outputs are checked after its timer stops; a
wrong output or a raised error counts as a failed op, not as a crash of
the run.

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` spans and Spark counters are recorded, the metrics are the
per-layer ones (means per measured op), and the spans are written to
``.perfbench_work/trace-<workload>-<seed>.json``. The line before the
result gives the pinned environment and the run's details (op and pass
times, setup times, error rate, the tail op time with its percentile and
the number of samples beyond it).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("medallion_daily", "gold_dashboard")
SETUPS = 3  # setup_s is the median of this many fresh-session setups
#: driver heap, well below the RAM of small boxes (the package default is
#: 24g); the inputs are a few MB
DRIVER_MEM = "1g"
PLANT_EVERY = 3  # with --plant, every third measured op carries the fault


def pin_environment(workload: str) -> dict[str, str]:
    """Set the environment for a run that writes only inside the checkout
    and return the extra Spark conf. Must run before pyspark starts."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
    )
    os.environ.pop("SPARK_MASTER", None)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse", workload),
    }


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest percentile with
    at least ten samples beyond it, or the maximum when there are fewer
    than eleven samples."""
    ordered = sorted(values)
    n = len(ordered)
    idx = n - 11 if n > 10 else n - 1
    return ordered[idx], 100.0 * (idx + 1) / n, n - 1 - idx


def measure(wl, tracer, seconds: float, plant: str | None = None) -> dict:
    """Closed loop: run whole passes of ``wl`` until the summed op time
    reaches ``seconds``. Returns op and pass times, attempted and failed
    op counts and, in a traced run, each op's Spark counters."""
    op_s: list[float] = []
    pass_s: list[float] = []
    counters: list[dict] = []
    attempted = failed = 0
    while sum(op_s) < seconds:
        total = 0.0
        for name in wl.pass_ops():
            fault = plant if attempted % PLANT_EVERY == PLANT_EVERY - 1 else None
            op_id = f"op{attempted}"
            wl.before_op()
            job0 = tracer.next_job() if tracer.enabled else 0
            t0 = time.perf_counter()
            try:
                with tracer.op(op_id):
                    check = wl.run_op(name, fault)
                elapsed = time.perf_counter() - t0
                job1 = tracer.next_job() if tracer.enabled else 0
                errors = check()
            except Exception as e:  # a failed op is counted, not fatal
                elapsed = time.perf_counter() - t0
                job1 = tracer.next_job() if tracer.enabled else 0
                errors = [f"{type(e).__name__}: {e}"]
            attempted += 1
            if errors:
                failed += 1
                print(f"{op_id} ({name}) failed: {errors[:3]}", file=sys.stderr)
            op_s.append(elapsed)
            total += elapsed
            if tracer.enabled:
                counters.append({"op": op_id, "wall_s": elapsed,
                                 **tracer.op_counters(job0, job1), **wl.sizes})
        pass_s.append(total)
    return {"op_s": op_s, "pass_s": pass_s, "attempted": attempted, "failed": failed,
            "counters": counters}


def stop_jvm(spark) -> None:
    """Stop the session and the driver JVM the run launched, and wait for
    the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", choices=("wrong", "raise"),
                    help="inject a fault into every third measured op")
    args = ap.parse_args()

    conf = pin_environment(args.workload)
    sys.path.insert(0, ROOT)
    import pyspark

    from wistia_video_analytics_project_spark.session import get_spark
    from wistia_video_analytics_project_spark.sources import incremental

    import gen
    import layers
    import spans
    import workloads

    api = gen.load_or_generate(os.path.join(WORK, "inputs"), args.seed)
    spark = None
    tracer = spans.Tracer(lambda: spark) if args.trace else spans.NoTrace()
    if tracer.enabled:
        # read_new_runs reaches the listing through the module attribute
        listing = incremental.list_new_run_folders

        def traced_listing(*a, **kw):
            with tracer.span("sources.list"):
                return listing(*a, **kw)

        incremental.list_new_run_folders = traced_listing

    work = os.path.join(WORK, "run", args.workload)
    if args.workload == "gold_dashboard":
        wl = workloads.GoldDashboard(api, work, tracer)
    else:
        wl = workloads.Medallion(api, work, tracer)
    # the inputs and expected models live for the whole run: keep Python's
    # cyclic GC from rescanning them inside timed ops
    gc.collect()
    gc.freeze()

    setup_s = []
    try:
        spark = get_spark("perfbench", extra_conf=conf)  # launches the JVM
        t0 = time.perf_counter()
        wl.stage(spark)
        stage_s = time.perf_counter() - t0
        for _ in range(SETUPS):
            spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench", extra_conf=conf)
            wl.setup(spark)
            setup_s.append(time.perf_counter() - t0)
        for _ in range(wl.warmup_passes):  # untimed and unchecked
            for name in wl.pass_ops():
                wl.before_op()
                wl.run_op(name)
        m = measure(wl, tracer, args.seconds, args.plant)
        peak_rss = (vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
                    + vm_hwm_mb("self"))
        cores = spark.sparkContext.defaultParallelism
        env = {
            "master": spark.sparkContext.master,
            "spark.ui.enabled": spark.conf.get("spark.ui.enabled"),
            "spark.driver.memory": spark.conf.get("spark.driver.memory"),
            "SPARK_LOCAL_DIRS": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], ROOT),
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
        }
    finally:
        if spark is not None:
            stop_jvm(spark)

    value, pct, beyond = tail(m["op_s"])
    print(json.dumps({
        "env": env, "workload": args.workload, "seed": args.seed, "ops": len(m["op_s"]),
        "error_rate": m["failed"] / m["attempted"],
        "op_tail_s": value, "op_tail_percentile": round(pct, 1),
        "op_tail_samples_beyond": beyond,
        "stage_s": stage_s, "setup_runs_s": setup_s,
        "op_s": m["op_s"], "pass_s": m["pass_s"],
    }))
    if tracer.enabled:
        tracer.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
        metrics = layers.per_layer(tracer.spans, m["counters"], cores)
    else:
        metrics = {
            "setup_s": (statistics.median(setup_s), "s"),
            "op_p50_s": (statistics.median(m["op_s"]), "s"),
            "pass_s": (statistics.median(m["pass_s"]), "s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
    print(json.dumps({
        "correct": m["failed"] == 0,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
