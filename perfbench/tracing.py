"""Spans around the benchmark's calls into the engine's layers, and the
per-layer metrics derived from them.

Each traced call records driver wall time in two phases (``construct``:
until the call returns, including its eager collects and persists;
``exec``: the forcing action), the CPU of the Python worker processes from
/proc, and the range of Spark job ids it launched. The loop is
sequential, so a job-id range belongs to exactly one call; each call also
runs under its own job group, which cross-checks the attribution. Stage
metrics are read once, at the end, from the JVM status store, so the loop
pays for two /proc walks and two py4j calls per traced call.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from procfs import pyworker_cpu_s

LAYER_CALLS = [
    "operators.match",
    "operators.ivf_match",
    "queryset.find",
    "operators.gopher_quality",
    "operators.exact_dedup",
    "operators.minhash_dedup_pairs",
    "operators.dedup_clusters",
    "sources.merge_parquet_store",
    "operators.ivfpq_refresh",
    "sources.read_parquet",
    "operators.find_by_vectors",
    "operators.get_by_ids",
    "streaming.run_to_memory_sink",
]
CALL_FIELDS = [
    ("construct_s", "s"),
    ("exec_s", "s"),
    ("task_cpu_s", "s"),
    ("pyworker_cpu_s", "s"),
    ("shuffle_bytes", "bytes"),
    ("idle_core_s", "s"),
]
SETUP_TIMINGS = [
    "session.get_spark.s",
    "session.warmup_s",
    "operators.kmeans.s",
    "operators.ivf_index.s",
    "operators.pq_train.s",
    "sources.init_parquet_store.s",
]
COUNTS = {
    "operators.minhash_dedup_pairs.pairs_out": "count",
    "operators.dedup_clusters.jobs": "count",
    "sources.merge_parquet_store.buckets_touched": "count",
    "sources.merge_parquet_store.bytes_written": "bytes",
    "sources.merge_parquet_store.files_written": "count",
    "operators.ivfpq_refresh.bytes_written": "bytes",
    "operators.ivfpq_refresh.files_written": "count",
    "store.files": "count",
    "store.bytes": "bytes",
    "write_amp": "ratio",
    "streaming.microbatches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.late_rows_dropped": "count",
}
OVERHEAD = {"trace.op_p50_overhead_s": "s"}
# set-up calls whose share of the set-up time the result line carries
SHARED_SETUP = ["operators.kmeans", "operators.ivf_index", "operators.pq_train",
                "sources.init_parquet_store"]
LAYER_SUM = "operators"  # summed per operation over its calls
# What the workloads of BENCHMARK.json, vector_search and store_churn,
# measure. text_dedup and stream_ingest run by hand: their calls and
# counts are on the report's detail line only.
HAND_RUN_ONLY = ["operators.gopher_quality", "operators.exact_dedup",
                 "operators.minhash_dedup_pairs", "operators.dedup_clusters",
                 "operators.minhash_dedup_pairs.pairs_out", "operators.dedup_clusters.jobs",
                 "streaming.late_rows_dropped"]
BENCHMARKED_CALLS = [c for c in LAYER_CALLS if c not in HAND_RUN_ONLY]
# calls whose jobs do not shuffle: their shuffle bytes read 0 on every run
NO_SHUFFLE = ["queryset.find", "sources.read_parquet", "operators.get_by_ids"]


def detail_units() -> dict[str, str]:
    """Every per-call metric the traced report line carries -> unit."""
    units = {f"{c}.{f}": u for c in LAYER_CALLS for f, u in CALL_FIELDS}
    units.update({name: "s" for name in SETUP_TIMINGS})
    units.update(COUNTS)
    units.update(OVERHEAD)
    return units


def per_layer_units() -> dict[str, str]:
    """The per-layer metrics of the result line -> unit. Each is measured
    by a workload of BENCHMARK.json; a time is carried only where both
    make the call (a call a workload skips would read 0 s on every run),
    and shares, bytes and counts for the rest."""
    units = {f"{LAYER_SUM}.{f}": u for f, u in CALL_FIELDS}
    units[f"{LAYER_SUM}.jobs"] = "count"
    # vector_search's find is lazy: its exec phase is empty on every run
    units.update({f"queryset.find.{f}": "s" for f in ("construct_s", "idle_core_s")})
    units.update({"session.get_spark.s": "s", "session.warmup_s": "s"})
    units.update(OVERHEAD)
    units.update({f"{c}.share": "ratio" for c in BENCHMARKED_CALLS})
    units.update({f"{c}.shuffle_bytes": "bytes" for c in BENCHMARKED_CALLS
                  if c not in NO_SHUFFLE})
    units.update({f"{c}.setup_share": "ratio" for c in SHARED_SETUP})
    units.update({k: u for k, u in COUNTS.items() if u != "ms" and k not in HAND_RUN_ONLY})
    return units


class _Call:
    def __init__(self, span_id: int, name: str, op: int, parent: int | None):
        self.span_id, self.name, self.op, self.parent = span_id, name, op, parent
        self.t0 = self.t1 = self.t2 = 0.0
        self.job0 = self.job1 = 0
        self.py_cpu = 0.0


class Tracer:
    """Records spans when ``enabled``; otherwise each call is a plain
    function call, so traced and untraced runs execute the same code."""

    def __init__(self, spark, enabled: bool, cores: int):
        self.spark = spark
        self.enabled = enabled
        self.cores = cores
        self.t_origin = time.perf_counter()
        self.calls: list[_Call] = []
        self.op_spans: list[dict] = []
        self._next_id = 0
        self._op: tuple[int, int] | None = None  # (op number, span id)

    def _job_id(self) -> int:
        return self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    def _new_id(self) -> int:
        self._next_id += 1
        return self._next_id

    @contextmanager
    def op(self, number: int, kind: str, traced: bool = True):
        """One closed-loop operation; ``traced=False`` runs it with
        tracing off, which the traced run uses on alternate ops to
        measure its own overhead."""
        was = self.enabled
        self.enabled = was and traced
        span_id = self._new_id()
        self._op = (number, span_id)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self.enabled:
                self.op_spans.append({
                    "id": span_id, "name": f"op.{kind}", "parent": None,
                    "op": number, "start": t0 - self.t_origin,
                    "end": time.perf_counter() - self.t_origin,
                })
            self.enabled = was
            self._op = None

    def call(self, name: str, build, force=None):
        """Run ``build()`` (construct phase) and then ``force(result)``
        (exec phase). A call with no ``force`` is an eager call: all its
        time is exec time."""
        if not self.enabled:
            out = build()
            return force(out) if force else out
        op, parent = self._op or (-1, None)
        c = _Call(self._new_id(), name, op, parent)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-{c.span_id}", name)
        c.job0 = self._job_id()
        py0 = pyworker_cpu_s()
        c.t0 = time.perf_counter()
        if force is None:
            c.t1 = c.t0
            out = build()
        else:
            out = build()
            c.t1 = time.perf_counter()
            out = force(out)
        c.t2 = time.perf_counter()
        c.py_cpu = pyworker_cpu_s() - py0
        c.job1 = self._job_id()
        self.calls.append(c)
        return out

    # ------------------------------------------------------------ results
    def _stage_table(self):
        """job id -> (group, [stage ids]); stage id -> metrics, summed
        over attempts."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        store = jsc.statusStore()
        jobs = {}
        for j in conv.asJava(store.jobsList(None)):
            group = j.jobGroup()
            jobs[j.jobId()] = (
                group.get() if group.isDefined() else None,
                list(conv.asJava(j.stageIds())),
            )
        stages: dict[int, list[float]] = {}
        empty = sc._gateway.new_array(sc._jvm.double, 0)
        for s in conv.asJava(store.stageList(None, False, False, empty,
                                             sc._jvm.java.util.ArrayList())):
            row = stages.setdefault(s.stageId(), [0.0, 0.0, 0.0])
            row[0] += s.executorRunTime() / 1e3
            row[1] += s.executorCpuTime() / 1e9
            row[2] += s.shuffleWriteBytes()
        return jobs, stages

    def finish(self, spans_path: str | None) -> tuple[dict, dict]:
        """-> (per-call metric means by metric name, diagnostics)."""
        jobs, stages = self._stage_table() if self.calls else ({}, {})
        seen: set[int] = set()
        rows: dict[str, list[dict]] = {}
        call_rows: list[dict] = []
        foreign = 0
        spans = list(self.op_spans)
        for c in self.calls:
            run = cpu = shuffle = 0.0
            n_jobs = 0
            for jid in range(c.job0, c.job1):
                group, stage_ids = jobs.get(jid, (None, []))
                n_jobs += 1
                if group != f"perfbench-{c.span_id}":
                    foreign += 1  # e.g. streaming jobs run in their own group
                for sid in stage_ids:
                    if sid in seen or sid not in stages:
                        continue
                    seen.add(sid)
                    r, u, b = stages[sid]
                    run, cpu, shuffle = run + r, cpu + u, shuffle + b
            wall = c.t2 - c.t0
            row = {
                "construct_s": c.t1 - c.t0,
                "exec_s": c.t2 - c.t1,
                "task_cpu_s": cpu,
                "pyworker_cpu_s": c.py_cpu,
                "shuffle_bytes": shuffle,
                "idle_core_s": wall * self.cores - run,
                "jobs": n_jobs,
            }
            rows.setdefault(c.name, []).append(row)
            call_rows.append(row)
            o = self.t_origin
            spans.append({"id": c.span_id, "name": c.name, "parent": c.parent,
                          "op": c.op, "start": c.t0 - o, "end": c.t2 - o})
            for phase, a, b in (("construct", c.t0, c.t1), ("exec", c.t1, c.t2)):
                if b > a:
                    spans.append({"id": self._new_id(), "name": f"{c.name}.{phase}",
                                  "parent": c.span_id, "op": c.op,
                                  "start": a - o, "end": b - o})
        means = {}
        for name, rs in rows.items():
            for field in list(rs[0]):
                means[f"{name}.{field}"] = statistics.fmean(r[field] for r in rs)
        # per traced operation: each call's share, and the operator calls summed
        in_ops = sum(s["end"] - s["start"] for s in self.op_spans)
        per_op: dict[int, dict[str, float]] = {s["op"]: {} for s in self.op_spans}
        for c, row in zip(self.calls, call_rows):
            if c.parent is None or c.op not in per_op:
                continue
            key = f"{c.name}.share"
            means[key] = means.get(key, 0.0) + (c.t2 - c.t0) / in_ops
            if c.name.split(".")[0] == LAYER_SUM:
                acc = per_op[c.op]
                for field, value in row.items():
                    acc[field] = acc.get(field, 0.0) + value
        for field in [f for f, _ in CALL_FIELDS] + ["jobs"]:
            if per_op:
                means[f"{LAYER_SUM}.{field}"] = statistics.fmean(
                    acc.get(field, 0.0) for acc in per_op.values())
        if spans_path:
            with open(spans_path, "w") as f:
                json.dump(sorted(spans, key=lambda s: s["start"]), f)
        return means, {"calls": len(self.calls), "jobs_outside_group": foreign,
                       "self_time_s": self.self_times()}

    def self_times(self) -> dict[str, float]:
        """Layer self time: the time of its call spans (the benchmark has
        no spans inside the program, so calls do not nest); ``bench`` is
        what is left of the traced ops."""
        out: dict[str, float] = {}
        for c in self.calls:
            layer = c.name.split(".")[0]
            out[layer] = out.get(layer, 0.0) + (c.t2 - c.t0)
        in_ops = sum(s["end"] - s["start"] for s in self.op_spans)
        out["bench"] = in_ops - sum(
            c.t2 - c.t0 for c in self.calls if c.parent is not None)
        return out
