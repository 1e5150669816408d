#!/usr/bin/env python3
"""Pages-to-graph benchmark: one batch job per run, timed end to end.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 25 --trace 0

Run from the repository root. Each run is one fresh driver process on
``local[nproc]``:

1. prepare: seeded inputs are generated and written as parquet in a child
   process (off the clock, and outside the driver's memory peak);
2. set-up: ``session.get_spark``, then a small pass of the job's
   Python-worker stage over an input of a different seed, which spawns the
   Python workers and loads the checkpoint. The timed job still pays JVM
   code generation for its other plans, as a submitted job does;
3. the timed job over ``ROWS_PER_SECOND * seconds`` input rows;
4. with ``--trace 1``, the same job again over an input of another seed,
   with every layer traced (tracing.py);
5. output checks against references computed from the inputs.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics, or the
per-layer metrics with ``--trace 1``). Host readings and every metric go to
``perfbench/work/results/`` as a sidecar file.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
WARMUP_SEED = 999_983          # never a timed seed: warm-up leaves no cache entry they hit
TRACE_SEED_OFFSET = 1_000_003  # the traced pass reads an input the timed pass did not
WARMUP_ROWS_PER_FILE = 4       # enough for every task slot to start a Python worker
FOREIGN_JVM_WAIT_S = 60
THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")
E2E_UNITS = {"setup_s": "s", "pages_per_s": "1/s", "cpu_s": "s", "driver_rss_mb": "MB"}


PREPARE = ("import json, sys, workloads; print(json.dumps("
           "[workloads.WORKLOADS[a[0]].prepare(*a[1:]) for a in json.load(sys.stdin)]))")


def prepare_all(plan: list[tuple]) -> list[dict]:
    """Run every prepare step in one child process; the generated rows never
    enter the driver's memory."""
    done = subprocess.run([sys.executable, "-c", PREPARE], input=json.dumps(plan),
                          capture_output=True, text=True)
    if done.returncode:
        sys.stderr.write(done.stderr)
        raise RuntimeError("input preparation failed")
    return json.loads(done.stdout.splitlines()[-1])


def host_info() -> dict:
    import procstat

    return {
        "loadavg": procstat.loadavg(),
        "steal_ticks": procstat.steal_ticks(),
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "env": {k: v for k, v in sorted(os.environ.items())
                if k.startswith("X5_") or k in THREAD_VARS},
    }


def stop_spark(spark) -> None:
    """Stop the SparkContext and its JVM, and wait for every process this
    driver started (JVM, Python daemon and workers) to end."""
    import procstat
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    # the Python daemon and workers are the JVM's children; list them now,
    # since they are re-parented away from this process once the JVM exits
    started = [proc.pid] + procstat.descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    left = procstat.wait_gone(started, 30)
    for pid in left:
        os.kill(pid, 9)
    procstat.wait_gone(left, 10)


def run(args, waited_s: float) -> dict:
    import gen
    import procstat
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    rows = max(int(workloads.ROWS_PER_SECOND[wl.name] * args.seconds), 8)
    files = 2 * cpus
    key = gen.source_key()
    work = os.path.join(WORK, "inputs", key)
    os.makedirs(work, exist_ok=True)
    for stale in os.listdir(os.path.dirname(work)):
        if stale != key:
            shutil.rmtree(os.path.join(os.path.dirname(work), stale), ignore_errors=True)
    out_root = os.path.join(WORK, "out", str(os.getpid()))
    shutil.rmtree(out_root, ignore_errors=True)

    t0 = time.perf_counter()
    plan = [(wl.name, work, args.seed, rows, files),
            (wl.name, work, WARMUP_SEED, WARMUP_ROWS_PER_FILE * files, files)]
    if args.trace:
        plan.append((wl.name, work, args.seed + TRACE_SEED_OFFSET, rows, files))
    inputs = prepare_all(plan)
    prep_s = time.perf_counter() - t0

    from x5_ner_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        master=f"local[{cpus}]", app_name=f"perfbench-{wl.name}",
        extra_conf={
            "spark.local.dir": os.path.join(WORK, "tmp"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        },
    )
    session_s = time.perf_counter() - t0
    try:
        java = str(spark.sparkContext._jvm.System.getProperty("java.version"))
        wl.warmup(spark, inputs[1])
        # from process start, less the wait for foreign JVMs and input
        # preparation, which are not set-up of the job
        setup_s = procstat.process_age_s() - waited_s - prep_s

        steal0 = procstat.steal_ticks()
        cpu0 = procstat.tree_cpu_s()
        t0 = time.perf_counter()
        wl.job(spark, inputs[0], os.path.join(out_root, "timed"))
        job_s = time.perf_counter() - t0
        cpu_s = procstat.tree_cpu_s() - cpu0
        steal = procstat.steal_ticks() - steal0
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

        layer = {}
        if args.trace:
            import tracing

            with tracing.Tracer(spark) as tracer:
                t0 = time.perf_counter()
                wl.job(spark, inputs[2], os.path.join(out_root, "traced"))
                traced_s = time.perf_counter() - t0
            layer = tracer.layer_metrics(session_s)
            layer["trace_gap_s"] = traced_s - job_s
            layer["trace_coverage"] = sum(
                layer[f"{n}.wall_s"] for n in tracing.LAYERS if n != "session") / traced_s
            layer["dedup.pair_yield"] = wl.pair_yield(spark, inputs[2])

        t0 = time.perf_counter()
        fails = wl.check(spark, inputs[0], os.path.join(out_root, "timed"))
        if args.trace:
            fails += wl.check(spark, inputs[2], os.path.join(out_root, "traced"))
        check_s = time.perf_counter() - t0
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t0
        shutil.rmtree(out_root, ignore_errors=True)
        for inp in inputs[:1] + inputs[2:]:  # the warm-up input is reused
            for k, v in inp.items():
                if k in ("pages", "aliases", "docs"):
                    shutil.rmtree(v, ignore_errors=True)

    e2e = {"setup_s": setup_s, "pages_per_s": rows / job_s, "cpu_s": cpu_s,
           "driver_rss_mb": rss_mb}
    return {
        "fails": fails, "rows": rows, "job_s": job_s, "prep_s": prep_s,
        "java": java, "session_s": session_s, "check_s": check_s, "stop_s": stop_s, "steal_ticks_job": steal,
        "end_to_end": {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()},
        "per_layer": layer,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the package and these modules must import in the driver and in the
    # Python workers Spark starts
    sys.path[:0] = [ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")

    import procstat
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    t0 = time.perf_counter()
    deadline = time.time() + FOREIGN_JVM_WAIT_S
    while procstat.foreign_spark_jvms():
        if time.time() > deadline:
            print(f"refusing to run: other Spark JVMs {procstat.foreign_spark_jvms()} "
                  "would distort the timings", file=sys.stderr)
            return 3
        time.sleep(1)
    waited_s = time.perf_counter() - t0

    host_before = host_info()
    res = run(args, waited_s)
    host_after = {"loadavg": procstat.loadavg(), "steal_ticks": procstat.steal_ticks()}

    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    if args.trace:
        units = tracing.metric_names()
        metrics = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
    import pyspark

    sidecar = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "spark": pyspark.__version__, "foreign_jvm_wait_s": waited_s,
        "run_s": procstat.process_age_s(),
        "host_before": host_before, "host_after": host_after,
        **{k: v for k, v in res.items() if k != "fails"}, "failures": res["fails"][:50],
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(sidecar, f, indent=1)
    for msg in res["fails"][:20]:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)
    print(json.dumps({
        "correct": not res["fails"], "attempted": 1, "failed": int(bool(res["fails"])),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
