#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py [workload ...]

For each workload it runs ``run.py --scale tiny`` twice: traced, where
every per-layer metric must come out with its unit, the report must name
the workload's end-to-end metrics with their units, and the spans file
must be written; and untraced with every result corrupted before its
check, where every operation must count as failed. It also checks that
BENCHMARK.json lists exactly the metrics ``run.py`` emits, and that each
per-layer metric is measured, not 0, on a workload BENCHMARK.json lists.
Exits 1 on any miss.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
sys.path.insert(0, HERE)

from run import END_TO_END  # noqa: E402
from tracing import detail_units, per_layer_units  # noqa: E402

COMMON = {"setup_s": "s", "failed_frac": "ratio", "peak_rss_mb": "MB"}
REPORTED = {
    "vector_search": {"queries_per_s": "1/s", "query_batch_p50_s": "s",
                      "query_batch_tail_s": "s", "recall_at_10": "ratio"},
    "text_dedup": {"docs_per_s": "1/s", "dedup_batch_p50_s": "s",
                   "dedup_batch_tail_s": "s", "dup_pair_recall": "ratio"},
    "store_churn": {"requests_per_s": "1/s", "cycle_p50_s": "s", "write_p50_s": "s",
                    "read_p50_s": "s", "read_tail_s": "s", "recall_at_10": "ratio",
                    "space_amp": "ratio"},
    "stream_ingest": {"events_per_s": "1/s", "microbatch_p50_s": "s",
                      "microbatch_tail_s": "s"},
}


def run(workload: str, *extra: str) -> tuple[dict, dict, str]:
    """-> (report, result, stdout) of one tiny run."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--scale", "tiny", *extra]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n"
                           f"{proc.stderr[-3000:]}")
    report = next(json.loads(line[len("perfbench report "):]) for line in lines
                  if line.startswith("perfbench report "))
    return report, json.loads(lines[-1]), proc.stdout


def check_units(what: str, got: dict, want: dict, problems: list[str]) -> None:
    for name, unit in want.items():
        if name not in got:
            problems.append(f"{what}: {name} missing")
        elif got[name].get("unit") != unit:
            problems.append(f"{what}: {name} has unit {got[name].get('unit')!r}, not {unit!r}")


def check_benchmark_json() -> list[str]:
    with open(BENCHMARK) as f:
        bench = json.load(f)
    problems = []
    for key, want in (("end_to_end", END_TO_END), ("per_layer", per_layer_units())):
        listed = {m["name"]: m["unit"] for m in bench[key]}
        if listed != want:
            problems.append(f"BENCHMARK.json {key} differs from what run.py emits: "
                            f"{sorted(set(listed.items()) ^ set(want.items()))[:5]}")
    return problems


def selftest(workload: str, traced: dict) -> list[str]:
    problems: list[str] = []
    report, result, stdout = run(workload, "--trace", "1")
    traced[workload] = result["metrics"]
    check_units("traced result", result["metrics"], per_layer_units(), problems)
    if set(result["metrics"]) != set(per_layer_units()):
        problems.append("traced result has metrics beyond the per-layer list")
    check_units("report", report["metrics"], {**COMMON, **REPORTED[workload]}, problems)
    if not (result["correct"] and result["failed"] == 0 and result["attempted"] >= 1):
        problems.append(f"clean traced run not correct: {result['failed']} of "
                        f"{result['attempted']} failed")
    spans = os.path.join(os.path.dirname(HERE), ".perfbench", "out",
                         f"spans-{workload}-1.json")
    with open(spans) as f:
        rows = json.load(f)
    if not rows or set(rows[0]) != {"id", "name", "start", "end", "parent", "op"}:
        problems.append("spans file lacks name/start/end/parent/op")
    for marker in ("perfbench self time by layer", "perfbench tracing overhead"):
        if marker not in stdout:
            problems.append(f"traced run did not print '{marker}'")
    layers = next((json.loads(line[len("perfbench layers "):])
                   for line in stdout.splitlines()
                   if line.startswith("perfbench layers ")), {})
    check_units("per-call report", layers, detail_units(), problems)

    report, result, _ = run(workload, "--trace", "0", "--corrupt")
    check_units("untraced result", result["metrics"], END_TO_END, problems)
    if set(result["metrics"]) != set(END_TO_END):
        problems.append("untraced result has metrics beyond the end-to-end list")
    if result["correct"] or result["failed"] != result["attempted"]:
        problems.append(f"corrupted results passed: {result['failed']} of "
                        f"{result['attempted']} failed")
    if not report["metrics"]["failed_frac"]["value"] > 0:
        problems.append("corrupted results left failed_frac at 0")
    return problems


def main(argv: list[str]) -> int:
    problems = check_benchmark_json()
    print(f"BENCHMARK.json: {'ok' if not problems else 'FAILED'}")
    for p in problems:
        print(f"  {p}")
    bad = bool(problems)
    traced: dict[str, dict] = {}
    for workload in argv or list(REPORTED):
        problems = selftest(workload, traced)
        print(f"{workload}: {'ok' if not problems else 'FAILED'}")
        for p in problems:
            print(f"  {p}")
        bad += bool(problems)
    with open(BENCHMARK) as f:
        listed = [w["name"] for w in json.load(f)["workloads"]]
    if all(w in traced for w in listed):
        # a tiny run makes one operation, so its tracing overhead reads 0
        zero = [name for name in per_layer_units() if name != "trace.op_p50_overhead_s"
                and not any(traced[w][name]["value"] for w in listed)]
        print(f"per-layer metrics measured: {'ok' if not zero else 'FAILED'}")
        if zero:
            print(f"  0 on every listed workload: {zero}")
            bad += 1
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
