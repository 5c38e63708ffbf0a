#!/usr/bin/env python3
"""Data-bound benchmark of the docarray_spark engine.

    python3 perfbench/run.py --workload vector_search --seed 1 --seconds 16 --trace 0

Runs one workload as a closed loop with a single client on
local[nproc/2] for ``--seconds`` seconds, checks every operation's output,
and prints a report followed, on the last line, by one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones, CPU seconds of the
whole process tree and the set-up time; with ``--trace 1`` they are the
per-layer ones, and a spans file is written. Run it from the root of a
checkout; everything it writes goes under ``.perfbench/`` there.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench", "out")  # spans files of traced runs
DEV_SEED, HELDOUT_SEED = 1, 7919  # develop on the first, confirm claims on the second
DRIVER_MEMORY = "3g"
BLAS_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")
END_TO_END = {"cpu_s_per_item": "s", "stage1_cpu_s": "s", "stage2_cpu_s": "s", "setup_s": "s"}
WORKLOAD_NAMES = ("vector_search", "store_churn", "stream_ingest", "text_dedup")


def pin_environment(cores: int, work: str) -> None:
    """One Spark task per core for ``cores`` cores, one BLAS thread per
    Python worker, and every temporary file inside the run's work
    directory."""
    for var in BLAS_VARS:
        os.environ[var] = "1"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    sys.path[:0] = [ROOT, HERE]


class Ctx:
    def __init__(self, spark, tracer, seed: int, cores: int, work: str):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.cores, self.work = cores, work


def start_spark(work: str):
    from docarray_spark import get_spark

    return get_spark(
        app_name="perfbench",
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.driver.extraJavaOptions": "-Djava.net.preferIPv4Stack=true "
            f"-Dderby.system.home={work}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
            # the traced run reads every job and stage back at the end
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def environment(spark, cores: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cores": cores,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "blas_threads": {v: os.environ[v] for v in BLAS_VARS},
        "driver_memory": DRIVER_MEMORY,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def run_ops(wl, tracer, seconds: float, trace: bool, corrupt: bool):
    """The closed loop. -> (attempted, failed, traced op s, untraced op s,
    cores stolen by the hypervisor during each op)."""
    from workloads import Clock

    attempted = failed = 0
    split: dict[bool, list[float]] = {True: [], False: []}
    steal: list[float] = []
    end = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < end:
        traced = trace and i % 2 == 0
        attempted += 1
        try:
            prep = wl.prepare(i)
            with tracer.op(i, wl.op_kind, traced=traced):
                clock = Clock()
                out = wl.run(prep)
                dt, cpu_s = clock.lap()
                steal.append(clock.steal_cores())
            if corrupt:
                wl.corrupt(out)
            try:
                problems = wl.check(prep, out)
            except Exception as e:  # a result the check cannot read is wrong
                problems = [f"check raised {type(e).__name__}: {e}"]
            wl.record(prep, out, dt, cpu_s)
            split[traced].append(dt)
        except Exception as e:  # a failed op counts; the loop goes on
            traceback.print_exc(file=sys.stderr)
            problems = [f"{type(e).__name__}: {e}"]
        if problems:
            failed += 1
            print(f"op {i} FAILED: " + "; ".join(problems[:5]), file=sys.stderr)
        i += 1
    return attempted, failed, split[True], split[False], steal


def measure(args, cores: int, work: str) -> tuple[dict, int]:
    from procfs import LoadWindow, RssSampler, anchors
    from tracing import SETUP_TIMINGS, SHARED_SETUP, Tracer, detail_units, per_layer_units
    from workloads import SIZES, WORKLOADS

    noise = {"before": anchors()}
    with RssSampler() as rss:
        load = LoadWindow()
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        try:
            env = environment(spark, cores)
            tracer = Tracer(spark, enabled=bool(args.trace), cores=cores)
            wl = WORKLOADS[args.workload](Ctx(spark, tracer, args.seed, cores, work),
                                          SIZES[args.workload][args.scale])
            setup_parts = wl.setup()
            t = time.perf_counter()
            with tracer.op(-1, "warmup", traced=False):
                wl.warmup()
            warmup_s = time.perf_counter() - t
            attempted, failed, traced_s, untraced_s, op_steal = run_ops(
                wl, tracer, args.seconds, bool(args.trace), args.corrupt)
            spans_path = None
            if args.trace:
                os.makedirs(OUT, exist_ok=True)
                spans_path = os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json")
            layer_means, trace_diag = tracer.finish(spans_path)
            report = wl.report() if wl.op_times else {}
            counts = wl.layer_counts()
        finally:
            noise.update(load.close())
            stop_spark(spark)
    noise["after"] = anchors()

    setup_s = session_s + sum(setup_parts.values())
    done = bool(wl.op_times)
    e2e = {}
    if done:
        stage1, stage2 = wl.stage_cpu_medians()
        e2e = {"cpu_s_per_item": wl.cpu_per_item(), "stage1_cpu_s": stage1,
               "stage2_cpu_s": stage2, "setup_s": setup_s}
    full = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    # peak RSS is mostly JVM heap not yet given back: reported, not gated
    full["peak_rss_mb"] = {"value": rss.peak / 2**20, "unit": "MB"}
    for name, (value, unit) in report.items():
        # a tail comes with its percentile and sample count
        full[name] = {**value, "unit": unit} if isinstance(value, dict) else {
            "value": value, "unit": unit}
    full["failed_frac"] = {"value": failed / attempted, "unit": "ratio"}
    full["setup_s"] = {"value": setup_s, "unit": "s"}
    print("perfbench report " + json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "scale": args.scale, "trace": args.trace, "ops": attempted,
        "metrics": full, "environment": env, "host_noise": noise,
        "setup_parts": setup_parts, "session_start_s": session_s, "warmup_s": warmup_s,
        "op_s": wl.op_times, "op_cpu_s": wl.op_cpu, "op_stages_s": wl.stage_times, "op_stages_cpu_s": wl.stage_cpu, "op_steal_cores": op_steal,
    }))

    if args.trace:
        setup_times = {k: setup_parts.get(k, 0.0) for k in SETUP_TIMINGS}
        setup_times["session.get_spark.s"] = session_s
        setup_times["session.warmup_s"] = warmup_s
        overhead = (statistics.median(traced_s) - statistics.median(untraced_s)
                    if traced_s and untraced_s else 0.0)
        setup_total = sum(setup_parts.values())
        setup_shares = {f"{c}.setup_share": setup_parts.get(f"{c}.s", 0.0) / setup_total
                        for c in SHARED_SETUP}
        values = {**layer_means, **setup_times, **setup_shares, **counts,
                  "trace.op_p50_overhead_s": overhead}

        def pick(units):
            return {name: {"value": float(values.get(name, 0.0)), "unit": unit}
                    for name, unit in units.items()}

        metrics = pick(per_layer_units())
        print("perfbench layers " + json.dumps(pick(detail_units())))
        print("perfbench self time by layer (s): " + json.dumps(
            {k: round(v, 4) for k, v in trace_diag.get("self_time_s", {}).items()}))
        print("perfbench tracing overhead: traced ops p50 "
              f"{statistics.median(traced_s) if traced_s else float('nan'):.4f} s, "
              f"untraced ops p50 "
              f"{statistics.median(untraced_s) if untraced_s else float('nan'):.4f} s; "
              f"{trace_diag.get('jobs_outside_group', 0)} jobs ran outside their "
              f"call's job group; spans in {spans_path}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    result = {"correct": done and failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return result, 0 if done else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=DEV_SEED,
                    help=f"input seed; {DEV_SEED} for development, "
                    f"{HELDOUT_SEED} held out to confirm a claim")
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage every result before its check (self-test)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "docarray_spark", "__init__.py")):
        print(f"perfbench: no docarray_spark package in {ROOT}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    cores = max(1, nproc // 2)  # headroom for the JVM's own threads and co-tenants
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        pin_environment(cores, work)
        os.chdir(work)
        result, code = measure(args, cores, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
