"""The four closed-loop workloads. Each one has a set-up, an operation the
loop repeats (``prepare`` makes its inputs untimed, ``run`` is timed,
``check`` verifies the outputs untimed) and the metrics it reports.

Every call into the engine goes through ``Tracer.call`` so the traced
run can attribute it to a layer; with tracing off the call is direct.
"""

from __future__ import annotations

import os
import statistics
import time
import zlib
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import data
from procfs import steal_s, tree_cpu_s

K = 10
VEC_BYTES = 4  # float32 elements in the generated vectors


def _lazy(df):
    """``force`` for a call whose result a later call consumes: its exec
    phase is empty and the work lands in the consumer's call."""
    return df


def _collect(df):
    return df.collect()


def _materialize(df):
    df = df.persist()
    df.count()
    return df


def _vectors_df(spark, ids, vecs, **cols):
    """Arrow-built frame ``(id, embedding[, cols])``; ``vecs`` keeps its
    dtype (float32 corpus rows, float64 queries)."""
    vecs = np.ascontiguousarray(vecs)
    n, d = vecs.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    fields = {"id": pa.array(np.asarray(ids, dtype=np.int64)),
              "embedding": pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel()))}
    fields.update({k: pa.array(v) for k, v in cols.items()})
    return spark.createDataFrame(pa.table(fields))


def _ranked(rows):
    """Result rows -> {query_id: [match_id by rank]}."""
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        out.setdefault(r.query_id, []).append(r.match_id)
    return out


def cosine(q: np.ndarray, x: np.ndarray, eps: float = 1e-7) -> np.ndarray:
    """The engine's documented cosine distance, in float64."""
    dots = q @ x.T
    norms = np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(x, axis=1))
    return 1 - np.clip((dots + eps) / (norms + eps), -1, 1)


def sqeuclidean(q: np.ndarray, x: np.ndarray) -> np.ndarray:
    return ((q[:, None, :] - x[None, :, :]) ** 2).sum(axis=-1)


def oracle_topk(scores: np.ndarray, ids: np.ndarray, k: int) -> list[int]:
    """Top-k ids under the documented rule: ascending score, then id."""
    order = np.lexsort((ids, scores))[:k]
    return ids[order].tolist()


def tail(samples: list[float]) -> dict:
    """The highest percentile with at least 10 samples beyond it, with the
    sample count; no value below 11 samples."""
    n = len(samples)
    if n < 11:
        return {"value": None, "percentile": None, "samples": n}
    s = sorted(samples)
    return {"value": s[n - 11], "percentile": round(100.0 * (n - 10) / n, 1),
            "samples": n}


def dir_files(path: str) -> dict[str, tuple[int, int, int]]:
    """relative path -> (size, mtime_ns, inode) of every file below."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out[os.path.relpath(os.path.join(root, f), path)] = (
                st.st_size, st.st_mtime_ns, st.st_ino)
    return out


class Clock:
    """Wall seconds and process-tree CPU seconds since it was made."""

    def __init__(self):
        self.wall, self.cpu, self.steal = time.perf_counter(), tree_cpu_s(), steal_s()

    def lap(self) -> tuple[float, float]:
        return time.perf_counter() - self.wall, tree_cpu_s() - self.cpu

    def steal_cores(self) -> float:
        """Cores the hypervisor took from this VM since the clock started."""
        return (steal_s() - self.steal) / max(time.perf_counter() - self.wall, 1e-9)


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) new or rewritten between two ``dir_files``."""
    new = [v for p, v in after.items() if before.get(p) != v]
    return len(new), sum(v[0] for v in new)


class Workload:
    """``run`` returns its outputs with ``"stages"``: the (wall, CPU)
    seconds of the operation's two timed parts, whose CPU medians are
    ``stage1_cpu_s`` and ``stage2_cpu_s``."""

    name = ""
    op_kind = "op"
    warmup_ops = 1

    def __init__(self, ctx, sizes: dict):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.seed = ctx.seed
        self.sizes = sizes
        self.op_times: list[float] = []
        self.op_cpu: list[float] = []
        self.op_items: list[int] = []
        self.stage_times: list[tuple[float, float]] = []
        self.stage_cpu: list[tuple[float, float]] = []
        self.items = 0
        self.counts: dict[str, list[float]] = {}

    def rng(self, stream: str, *key: int) -> np.random.Generator:
        """Generator for one named input stream of this seed."""
        return np.random.default_rng([self.seed, zlib.crc32(stream.encode()), *key])

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append(float(value))

    def setup(self) -> dict[str, float]:
        """Build the workload's state -> the seconds of each part of the
        set-up; together they are its set-up time. Work done only for the
        checks is left out."""
        return {}

    def warmup(self) -> None:
        """Untimed operations, so the loop starts with warm code paths. A
        count, not a time: the JIT warms with work done, so a slow host
        gets the same warm-up as a fast one."""
        for i in range(self.warmup_ops):
            self.run(self.prepare(1_000_000 + i))

    def prepare(self, i: int):
        raise NotImplementedError

    def run(self, prep):
        raise NotImplementedError

    def check(self, prep, out) -> list[str]:
        raise NotImplementedError

    def corrupt(self, out):
        """Damage a result the way a wrong answer would look (self-test)."""
        raise NotImplementedError

    def record(self, prep, out, seconds: float, cpu_s: float, items: int) -> None:
        """``items``: the operation's units of work (queries, requests,
        events or docs)."""
        self.items += items
        self.op_items.append(items)
        self.op_times.append(seconds)
        self.op_cpu.append(cpu_s)
        (w1, c1), (w2, c2) = out["stages"]
        self.stage_times.append((w1, w2))
        self.stage_cpu.append((c1, c2))

    def report(self) -> dict[str, tuple]:
        """Workload-specific end-to-end metrics: name -> (value, unit)."""
        return {}

    def layer_counts(self) -> dict[str, float]:
        return {k: statistics.fmean(v) for k, v in self.counts.items()}

    def op_p50(self) -> float:
        return statistics.median(self.op_times)

    def throughput(self) -> float:
        return self.items / sum(self.op_times)

    def cpu_per_item(self) -> float:
        """Median over operations of the whole process tree's CPU seconds
        per unit of work."""
        return statistics.median(c / n for c, n in zip(self.op_cpu, self.op_items))

    def stage_cpu_medians(self) -> tuple[float, float]:
        return tuple(statistics.median(s) for s in zip(*self.stage_cpu))


def _components(ids, pairs) -> dict:
    """Union-find labels, each component named by its smallest id."""
    parent = {i: i for i in ids}

    def root(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in pairs:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: root(i) for i in ids}


# ------------------------------------------------------------ vector search

class VectorSearch(Workload):
    """Batched top-k over a persisted clustered corpus: exact ``match``,
    ``ivf_match`` on k-means cells, and ``find`` on a tag slice followed
    by ``match``."""

    name = "vector_search"
    op_kind = "query_batch"
    warmup_ops = 6  # CPU per batch falls for about 6 batches, then holds
    MIX = (0.5, 0.3)  # exact and IVF shares of a batch; the rest is filtered

    def setup(self):
        from docarray_spark.operators import kmeans

        s = self.sizes
        t0 = time.perf_counter()
        rng = self.rng("corpus")
        x = data.clustered_vectors(rng, s["n"], s["dim"], s["clusters"],
                                   dup_frac=s["dup_frac"])
        self.tags = rng.integers(0, 100, size=s["n"]).astype(np.int64)
        self.ids = np.arange(s["n"], dtype=np.int64)
        corpus = _vectors_df(self.spark, self.ids, x, tag=self.tags)
        self.corpus = corpus.repartition(self.ctx.cores).persist()
        self.corpus.count()
        t1 = time.perf_counter()
        cent, _ = kmeans(self.corpus, k=s["cells"], n_iter=3)
        self.centroids = [(r.cell, list(r.centroid)) for r in cent.collect()]
        t2 = time.perf_counter()
        self.x64 = x.astype(np.float64)
        # ids sharing one vector score identically, so the tie rule decides
        # between them: key each row's score by its class's first row
        _, first = np.unique(x, axis=0, return_inverse=True)
        first = first.ravel()
        lead = np.full(first.max() + 1, s["n"], dtype=np.int64)
        np.minimum.at(lead, first, self.ids)
        self.lead = lead[first]
        self.twin = np.bincount(first)[first] > 1
        return {"generate_persist_s": t1 - t0, "operators.kmeans.s": t2 - t1}

    def prepare(self, i):
        rng = self.rng("ops", i)
        b = self.sizes["batch"]
        q = data.near_queries(rng, self.x64, b)
        # the same mix in every batch, in a seeded order
        n_exact, n_ivf = (round(b * f) for f in self.MIX)
        kind = rng.permutation(np.repeat([0, 1, 2], [n_exact, n_ivf, b - n_exact - n_ivf]))
        lo = int(rng.integers(0, 91))
        return {"q": q, "kind": kind, "tags": (lo, lo + 10)}

    def run(self, prep):
        from docarray_spark.operators import ivf_match, match
        from docarray_spark.queryset import find

        s, tr, out = self.sizes, self.tr, {}
        q, kind = prep["q"], prep["kind"]
        exact, ann = np.zeros(2), np.zeros(2)
        for k_id, label in enumerate(("exact", "ivf", "filtered")):
            sel = np.flatnonzero(kind == k_id)
            if not len(sel):
                out[label] = []
                continue
            clock = Clock()
            qdf = _vectors_df(self.spark, sel, q[sel])
            if label == "exact":
                out[label] = tr.call(
                    "operators.match",
                    lambda: match(self.corpus, qdf, k=K, metric="cosine"), _collect)
            elif label == "ivf":
                out[label] = tr.call(
                    "operators.ivf_match",
                    lambda: ivf_match(self.corpus, qdf, k=K, n_cells=s["cells"],
                                      n_probe=s["probe"], metric="cosine",
                                      centroids=self.centroids, vectorized=True),
                    _collect)
            else:
                lo, hi = prep["tags"]
                part = tr.call("queryset.find", lambda: find(
                    self.corpus, {"tag": {"$gte": lo, "$lt": hi}}), _lazy)
                out[label] = tr.call(
                    "operators.match",
                    lambda: match(part, qdf, k=K, metric="cosine"), _collect)
            if label == "ivf":
                ann += clock.lap()
            else:
                exact += clock.lap()
        out["stages"] = (tuple(exact), tuple(ann))
        return out

    def _expected(self, q, rows_mask=None):
        d = cosine(q, self.x64)
        d = d[:, self.lead]  # one score per identical-vector class
        ids = self.ids
        if rows_mask is not None:
            d, ids = d[:, rows_mask], ids[rows_mask]
        return [oracle_topk(d[j], ids, K) for j in range(len(q))]

    def check(self, prep, out):
        problems = []
        q, kind = prep["q"], prep["kind"]
        lo, hi = prep["tags"]
        mask = (self.tags >= lo) & (self.tags < hi)
        recalls = []
        for k_id, label in enumerate(("exact", "ivf", "filtered")):
            sel = np.flatnonzero(kind == k_id)
            if not len(sel):
                continue
            got = _ranked(out[label])
            exp = self._expected(q[sel], mask if label == "filtered" else None)
            for j, qid in enumerate(sel.tolist()):
                g = got.get(qid, [])
                if len(g) != K or len(set(g)) != K:
                    problems.append(f"{label} q{qid}: {len(g)} results, {len(set(g))} distinct")
                    continue
                if label == "ivf":
                    lead = Counter(self.lead[g].tolist())
                    hit = sum((lead & Counter(self.lead[exp[j]].tolist())).values())
                    recalls.append(hit / K)
                elif g != exp[j]:
                    diff = np.array(sorted(set(g) ^ set(exp[j])), dtype=np.int64)
                    what = ("tie between identical vectors" if len(diff)
                            and self.twin[diff].all() else "wrong neighbours")
                    problems.append(f"{label} q{qid}: {what}: got {g}, expected {exp[j]}")
        if recalls:
            r = statistics.fmean(recalls)
            out["_recall"] = r
            if r < self.sizes["min_recall"]:
                problems.append(f"ivf recall@10 {r:.3f} < {self.sizes['min_recall']}")
        return problems

    def corrupt(self, out):
        rows = out["exact"] or out["filtered"]
        rows[0] = rows[0].__class__(**{**rows[0].asDict(), "match_id": -1})

    def record(self, prep, out, seconds, cpu_s):
        super().record(prep, out, seconds, cpu_s, len(prep["q"]))
        if "_recall" in out:
            self.counts.setdefault("_recall", []).append(out["_recall"])

    def layer_counts(self):
        return {k: v for k, v in super().layer_counts().items() if not k.startswith("_")}

    def report(self):
        t = tail(self.op_times)
        rec = self.counts.get("_recall", [])
        return {
            "queries_per_s": (self.throughput(), "1/s"),
            "query_batch_p50_s": (self.op_p50(), "s"),
            "query_batch_tail_s": (t, "s"),
            "recall_at_10": (statistics.fmean(rec) if rec else None, "ratio"),
        }


# --------------------------------------------------------------- text dedup

class TextDedup(Workload):
    """Near-duplicate cleaning of fresh text slices: ``gopher_quality`` ->
    ``exact_dedup`` -> ``minhash_dedup_pairs`` -> ``dedup_clusters``."""

    name = "text_dedup"
    op_kind = "dedup_batch"

    def setup(self):
        t0 = time.perf_counter()
        self.vocab = data.vocabulary(self.rng("vocab"))
        return {"vocab_s": time.perf_counter() - t0}

    def prepare(self, i):
        df, truth = data.text_slice(self.rng("ops", i), self.vocab, self.sizes["docs"])
        return {"pdf": df, "truth": truth}

    def run(self, prep):
        from docarray_spark import release_cached_intermediates
        from docarray_spark.operators import dedup_clusters, exact_dedup, gopher_quality
        from docarray_spark.operators.dedup import minhash_dedup_pairs

        tr = self.tr
        clock = Clock()
        docs = self.spark.createDataFrame(prep["pdf"])
        kept = tr.call("operators.gopher_quality", lambda: gopher_quality(
            docs, extra_cols=["text"]).filter("keep").select("id", "text"), _materialize)
        unique = tr.call("operators.exact_dedup",
                         lambda: exact_dedup(kept, ["text"]), _materialize)
        stage1 = clock.lap()
        clock = Clock()
        pairs = tr.call("operators.minhash_dedup_pairs", lambda: minhash_dedup_pairs(
            unique, threshold=0.5, num_bands=16, num_rows=2), _materialize)
        clusters = tr.call("operators.dedup_clusters",
                           lambda: dedup_clusters(unique, pairs), _collect)
        out = {
            "kept": [r.id for r in kept.select("id").collect()],
            "unique": [r.id for r in unique.select("id").collect()],
            "pairs": [(r.id_a, r.id_b) for r in pairs.collect()],
            "clusters": {r.id: r.component for r in clusters},
        }
        release_cached_intermediates(self.spark)
        out["stages"] = (stage1, clock.lap())
        return out

    def check(self, prep, out):
        problems = []
        truth = prep["truth"]
        all_ids = set(prep["pdf"]["id"].tolist())
        kept = set(out["kept"])
        if all_ids - kept != truth["short"]:
            problems.append(f"gopher dropped {sorted(all_ids - kept)[:5]}..., "
                            f"expected the {len(truth['short'])} short docs")
        expect_unique = kept - set(truth["exact_copies"])
        if set(out["unique"]) != expect_unique or len(out["unique"]) != len(expect_unique):
            problems.append("exact_dedup survivors differ from the planted copies")
        planted = data.planted_pairs(truth["groups"])
        pairs = set(out["pairs"])
        extra = pairs - planted
        if extra:
            problems.append(f"{len(extra)} unplanted pairs, e.g. {sorted(extra)[:3]}")
        recall = len(pairs & planted) / len(planted) if planted else 1.0
        out["_recall"] = recall
        if recall < self.sizes["min_recall"]:
            problems.append(f"planted pair recall {recall:.3f} < {self.sizes['min_recall']}")
        comp = out["clusters"]
        if set(comp) != expect_unique:
            problems.append("dedup_clusters does not label exactly the surviving docs")
        elif not {i for p in pairs for i in p} <= expect_unique:
            problems.append("a pair names a doc that did not survive exact dedup")
        elif _components(expect_unique, pairs) != comp:
            problems.append("dedup_clusters differs from the components of its pairs")
        return problems

    def corrupt(self, out):
        out["pairs"].append((0, 1))

    def record(self, prep, out, seconds, cpu_s):
        super().record(prep, out, seconds, cpu_s, len(prep["pdf"]))
        self.count("operators.minhash_dedup_pairs.pairs_out", len(out["pairs"]))
        self.counts.setdefault("_recall", []).append(out.get("_recall", 0.0))

    def layer_counts(self):
        return {k: v for k, v in super().layer_counts().items() if not k.startswith("_")}

    def report(self):
        rec = self.counts.get("_recall", [])
        return {
            "docs_per_s": (self.throughput(), "1/s"),
            "dedup_batch_p50_s": (self.op_p50(), "s"),
            "dedup_batch_tail_s": (tail(self.op_times), "s"),
            "dup_pair_recall": (statistics.fmean(rec) if rec else None, "ratio"),
        }


# ---------------------------------------------------------------- streaming

class _Progress:
    """Collects streaming progress events by query name."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        progress: dict[str, list] = {}
        ended: set[str] = set()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.setdefault(p.name, []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                ended.add(str(event.id))

        self.progress, self.ended, self.listener = progress, ended, Listener()
        spark.streams.addListener(self.listener)

    def wait(self, name: str, timeout_s: float = 20.0) -> list:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            ps = self.progress.get(name, [])
            if ps and str(ps[-1].id) in self.ended:
                return ps
            time.sleep(0.02)
        raise TimeoutError(f"no termination event for stream {name}")


def _count_stream(wl: Workload, ps: list) -> list:
    """Count one drained query's progress into ``wl``'s streaming
    figures -> its micro-batches that read rows."""
    batches = [p for p in ps if p.numInputRows > 0]
    last = ps[-1].stateOperators
    wl.count("streaming.microbatches", len(ps))
    wl.count("streaming.add_batch_ms", statistics.fmean(
        p.durationMs.get("addBatch", 0) for p in batches))
    wl.count("streaming.wal_commit_ms", statistics.fmean(
        p.durationMs.get("walCommit", 0) for p in batches))
    wl.count("streaming.state_rows", sum(o.numRowsTotal for o in last))
    wl.count("streaming.state_memory_bytes", sum(o.memoryUsedBytes for o in last))
    wl.count("streaming.late_rows_dropped", sum(
        o.numRowsDroppedByWatermark for p in ps for o in p.stateOperators))
    return batches


def _land(path: str, tables: list) -> None:
    """Write ``tables`` as parquet files into a new landing directory,
    with increasing mtimes so a stream reads them in order."""
    os.makedirs(path)
    mtime = time.time() - len(tables)
    for f, table in enumerate(tables):
        name = os.path.join(path, f"part-{f:04d}.parquet")
        pq.write_table(table, name)
        os.utime(name, (mtime + f, mtime + f))


# -------------------------------------------------------------- store churn

INGEST_SCHEMA = "id long, ts timestamp, embedding array<float>, tag long"


class StoreChurn(Workload):
    """Upserts and deletes into a bucketed parquet store with a maintained
    IVF-PQ index, each write followed by ANN, tag and id reads. The
    upserts arrive as a stream: two landed files, the rows and then a
    redelivery of some of them, drained through ``streaming_dedup`` into
    a memory sink that the store merge reads."""

    name = "store_churn"
    op_kind = "cycle"
    warmup_ops = 4  # CPU per cycle falls for about 4 cycles, then holds
    WATERMARK = "10 minutes"

    def setup(self):
        from docarray_spark.operators import ivf_index, ivfpq_refresh, pq_train
        from docarray_spark.sources import init_parquet_store, read_parquet

        s = self.sizes
        self.progress = _Progress(self.spark)
        self.row_bytes = 8 + 8 + s["dim"] * VEC_BYTES  # id, tag, vector
        self.store = os.path.join(self.ctx.work, "store")
        self.index = os.path.join(self.ctx.work, "ivfpq")
        self.landing = os.path.join(self.ctx.work, "landing")
        t0 = time.perf_counter()
        rng = self.rng("corpus")
        x = data.clustered_vectors(rng, s["n"], s["dim"], s["clusters"])
        tags = rng.integers(0, 100, size=s["n"]).astype(np.int64)
        init_parquet_store(_vectors_df(self.spark, np.arange(s["n"]), x, tag=tags),
                           self.store, n_buckets=s["buckets"])
        t1 = time.perf_counter()
        corpus = read_parquet(self.spark, self.store)
        cent, _ = ivf_index(corpus, s["cells"])
        self.centroids = [(r.cell, list(r.centroid)) for r in cent.collect()]
        t2 = time.perf_counter()
        books = pq_train(corpus, m=s["pq_m"], ksub=s["pq_ksub"],
                         sample=s["pq_sample"], n_iter=5)
        t3 = time.perf_counter()
        ivfpq_refresh(self.spark, self.store, self.index, self.centroids, books,
                      group_buckets=s["groups"])
        t4 = time.perf_counter()
        self.live = {i: (x[i], int(tags[i])) for i in range(s["n"])}
        self.next_id = s["n"]
        self.bytes_in = 0
        self.write_s: list[float] = []
        self.read_s: list[float] = []
        self.recalls: list[float] = []
        return {"sources.init_parquet_store.s": t1 - t0,
                "operators.ivf_index.s": t2 - t1,
                "operators.pq_train.s": t3 - t2,
                "ivfpq_build_s": t4 - t3}

    def prepare(self, i):
        s = self.sizes
        rng = self.rng("ops", i)
        live = np.array(sorted(self.live), dtype=np.int64)
        picked = rng.choice(live, size=s["updates"] + s["deletes"], replace=False)
        upd_ids = np.concatenate([picked[:s["updates"]],
                                  np.arange(self.next_id, self.next_id + s["inserts"])])
        dels = picked[s["updates"]:]
        base = np.stack([self.live[int(j)][0] for j in rng.choice(live, size=len(upd_ids))])
        vecs = (base + 0.05 * rng.standard_normal(base.shape)).astype(np.float32)
        tags = rng.integers(0, 100, size=len(upd_ids)).astype(np.int64)
        q_src = np.stack([self.live[int(j)][0] for j in rng.choice(live, size=s["queries"])])
        queries = q_src.astype(np.float64) + 0.02 * rng.standard_normal(q_src.shape)
        get = np.concatenate([rng.choice(live, size=12), dels[:2], [-5, 10**12]])
        # one event second per row, an hour per cycle
        ts = (data.EPOCH_2024 + 3600 * i + np.arange(len(upd_ids))) * 1_000_000
        events = pa.table({
            "id": pa.array(upd_ids), "ts": pa.array(ts, type=pa.timestamp("us")),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "tag": pa.array(tags)})
        again = np.sort(rng.choice(len(upd_ids), size=s["redelivered"], replace=False))
        landing = os.path.join(self.landing, f"cycle-{i}")
        _land(landing, [events, events.take(again)])
        return {"ids": upd_ids, "vecs": vecs, "tags": tags, "dels": dels,
                "q": queries, "tag": int(rng.integers(0, 100)), "get": get,
                "landing": landing, "sink": f"ingest_{i}",
                "full_probe": i % 4 == 1,
                # untimed: the directory walks stay outside the operation
                "before": (dir_files(self.store), dir_files(self.index))}

    def run(self, prep):
        from docarray_spark.operators import find_by_vectors, get_by_ids, ivfpq_refresh
        from docarray_spark.queryset import find
        from docarray_spark.sources import merge_parquet_store, read_parquet
        from docarray_spark.streaming import read_stream, run_to_memory_sink, streaming_dedup

        s, tr, spark = self.sizes, self.tr, self.spark
        clock = Clock()
        tr.call("streaming.run_to_memory_sink", lambda: streaming_dedup(
            read_stream(spark, prep["landing"], INGEST_SCHEMA, max_files_per_trigger=1),
            ["id", "tag", "embedding"], "ts", watermark=self.WATERMARK),
            lambda sdf: run_to_memory_sink(sdf, prep["sink"]))
        upd = spark.table(prep["sink"]).select("id", "embedding", "tag")
        dels = spark.createDataFrame([(int(j),) for j in prep["dels"]], "id long")
        summary = tr.call("sources.merge_parquet_store", lambda: merge_parquet_store(
            spark, self.store, upd, n_buckets=s["buckets"], delete_ids=dels))
        tr.call("operators.ivfpq_refresh", lambda: ivfpq_refresh(
            spark, self.store, self.index, buckets=summary["buckets"]))
        write = clock.lap()
        self._apply(prep)
        out = {"write_s": write[0], "buckets": len(summary["buckets"]), "reads": {}}

        def opened():
            return tr.call("sources.read_parquet",
                           lambda: read_parquet(spark, self.store), _lazy)

        reads = []
        clock = Clock()
        t = time.perf_counter()
        corpus = opened()
        out["reads"]["ann"] = tr.call("operators.find_by_vectors", lambda: find_by_vectors(
            corpus, prep["q"], k=K, metric="sqeuclidean", backend="ivfpq",
            index_path=self.index, n_probe=s["probe"], rerank_corpus=corpus,
            rerank_factor=4), _collect)
        reads.append(time.perf_counter() - t)
        t = time.perf_counter()
        corpus = opened()
        out["reads"]["tag"] = tr.call("queryset.find", lambda: find(
            corpus, {"tag": {"$eq": prep["tag"]}}).select("id"), _collect)
        reads.append(time.perf_counter() - t)
        t = time.perf_counter()
        corpus = opened()
        out["reads"]["ids"] = tr.call("operators.get_by_ids", lambda: get_by_ids(
            corpus, [int(j) for j in prep["get"]]).select("id", "embedding"), _collect)
        reads.append(time.perf_counter() - t)
        out["read_s"] = reads
        out["stages"] = (write, clock.lap())
        return out

    def _apply(self, prep):
        for j, v, tag in zip(prep["ids"].tolist(), prep["vecs"], prep["tags"].tolist()):
            self.live[j] = (v, tag)
        for j in prep["dels"].tolist():
            self.live.pop(j, None)
        self.next_id += self.sizes["inserts"]

    def _matrix(self):
        ids = np.array(sorted(self.live), dtype=np.int64)
        return ids, np.stack([self.live[int(j)][0] for j in ids]).astype(np.float64)

    def check(self, prep, out):
        from docarray_spark.operators import ivf_match
        from docarray_spark.sources import read_parquet

        problems = []
        ingested = self.spark.table(prep["sink"]).collect()
        self.spark.catalog.dropTempView(prep["sink"])
        if sorted(r.id for r in ingested) != sorted(prep["ids"].tolist()):
            problems.append(f"streaming_dedup passed ids {sorted(r.id for r in ingested)}, "
                            f"expected each of {sorted(prep['ids'].tolist())} once")
        ids, x = self._matrix()
        live = set(ids.tolist())
        d = sqeuclidean(prep["q"], x)
        exp = [oracle_topk(d[j], ids, K) for j in range(len(prep["q"]))]
        got = _ranked(out["reads"]["ann"])
        rec = []
        for j in range(len(prep["q"])):
            g = got.get(j, [])
            if len(g) != K or len(set(g)) != K:
                problems.append(f"ann q{j}: {len(g)} results, {len(set(g))} distinct")
            if set(g) - live:
                problems.append(f"ann q{j}: ghost ids {sorted(set(g) - live)[:3]}")
            rec.append(len(set(g) & set(exp[j])) / K)
        out["_recall"] = statistics.fmean(rec)
        if out["_recall"] < self.sizes["min_recall"]:
            problems.append(f"ivfpq recall@10 {out['_recall']:.3f} < {self.sizes['min_recall']}")
        tag_ids = [r.id for r in out["reads"]["tag"]]
        want = {j for j, (_, t) in self.live.items() if t == prep["tag"]}
        if len(tag_ids) != len(set(tag_ids)) or set(tag_ids) != want:
            problems.append(f"find tag={prep['tag']}: {len(tag_ids)} rows, "
                            f"expected {len(want)}")
        got_ids = [r.id for r in out["reads"]["ids"]]
        want_ids = {int(j) for j in prep["get"]} & live
        if len(got_ids) != len(set(got_ids)) or set(got_ids) != want_ids:
            problems.append(f"get_by_ids: got {sorted(got_ids)}, expected {sorted(want_ids)}")
        for r in out["reads"]["ids"]:
            if r.id in live and not np.array_equal(
                    np.asarray(r.embedding, dtype=np.float32), self.live[r.id][0]):
                problems.append(f"get_by_ids: stale vector for id {r.id}")
        if prep["full_probe"]:
            # every cell probed: IVF serving must equal the exact oracle
            s = self.sizes
            qdf = _vectors_df(self.spark, np.arange(len(prep["q"])), prep["q"])
            full = _ranked(ivf_match(
                read_parquet(self.spark, self.store), qdf, k=K, n_cells=s["cells"],
                n_probe=s["cells"], metric="sqeuclidean", centroids=self.centroids,
                vectorized=True).collect())
            for j in range(len(prep["q"])):
                if full.get(j) != exp[j]:
                    problems.append(f"full-probe q{j}: got {full.get(j)}, expected {exp[j]}")
        return problems

    def corrupt(self, out):
        out["reads"]["tag"] = out["reads"]["tag"] + out["reads"]["tag"][:1]

    def record(self, prep, out, seconds, cpu_s):
        super().record(prep, out, seconds, cpu_s, 1 + len(out["read_s"]))
        self.bytes_in += len(prep["ids"]) * self.row_bytes
        self.write_s.append(out["write_s"])
        self.read_s.extend(out["read_s"])
        if "_recall" in out:
            self.recalls.append(out["_recall"])
        _count_stream(self, self.progress.wait(prep["sink"]))
        self.count("sources.merge_parquet_store.buckets_touched", out["buckets"])
        # the reads write nothing, so the store's files now are the merge's
        for name, path, before in (("sources.merge_parquet_store", self.store, prep["before"][0]),
                                   ("operators.ivfpq_refresh", self.index, prep["before"][1])):
            files, nbytes = written(before, dir_files(path))
            self.count(f"{name}.files_written", files)
            self.count(f"{name}.bytes_written", nbytes)

    def _disk(self):
        files = {**{("s", p): v for p, v in dir_files(self.store).items()},
                 **{("i", p): v for p, v in dir_files(self.index).items()}}
        return len(files), sum(v[0] for v in files.values())

    def layer_counts(self):
        out = super().layer_counts()
        files, nbytes = self._disk()
        out["store.files"] = files
        out["store.bytes"] = nbytes
        wrote = sum(self.counts.get("sources.merge_parquet_store.bytes_written", [])) + sum(
            self.counts.get("operators.ivfpq_refresh.bytes_written", []))
        out["write_amp"] = wrote / self.bytes_in if self.bytes_in else 0.0
        return out

    def report(self):
        _, nbytes = self._disk()
        return {
            "requests_per_s": (self.throughput(), "1/s"),
            "cycle_p50_s": (self.op_p50(), "s"),
            "write_p50_s": (statistics.median(self.write_s), "s"),
            "read_p50_s": (statistics.median(self.read_s), "s"),
            "read_tail_s": (tail(self.read_s), "s"),
            "recall_at_10": (statistics.fmean(self.recalls) if self.recalls else None, "ratio"),
            "space_amp": (nbytes / (len(self.live) * self.row_bytes), "ratio"),
        }


# ------------------------------------------------------------ stream ingest

EVENT_SCHEMA = ("event_id long, ts timestamp, user_id long, event_type string, "
                "value double, props string")


class StreamIngest(Workload):
    """Drain landed event files one file per trigger into memory sinks,
    once through ``streaming_dedup`` and once through ``session_windows``.
    The two are separate queries: on Spark 4.1 the second operator's
    ``withWatermark`` on the first one's output fails with "Redefining
    watermark is disallowed"."""

    name = "stream_ingest"
    op_kind = "drain"
    GAP_S, DELAY_S = 300, 120
    DEDUP_COLS = ["event_id", "user_id", "event_type", "value", "props"]

    def setup(self):
        self.progress = _Progress(self.spark)
        s = self.sizes
        t0 = time.perf_counter()
        files = data.event_files(self.rng("events"), s["files"], s["users"])
        self.landing = os.path.join(self.ctx.work, "landing")
        self.warm_landing = os.path.join(self.ctx.work, "warm")
        tables = [pa.Table.from_pandas(part, preserve_index=False) for part in files]
        _land(self.landing, tables)
        _land(self.warm_landing, tables[:1])
        t1 = time.perf_counter()
        # the oracle: late events are the planted users >= s["users"]
        events = pd.concat(files, ignore_index=True)
        on_time = events[events["user_id"] < s["users"]]
        self.unique_ids = set(on_time["event_id"].tolist())
        self.oracle = data.sessions(on_time, self.GAP_S)
        ts = [p["ts"].astype("int64").max() / 1e6 for p in files]
        self.wm_before_last = max(ts[:-1]) - self.DELAY_S
        self.wm_last = max(ts) - self.DELAY_S
        self.batch_s: list[float] = []
        self.drain_s: list[float] = []
        return {"land_s": t1 - t0}

    def warmup(self):
        # one file per query is enough to compile the streaming plans
        self.run({"i": 1_000_000, "landing": self.warm_landing})

    def prepare(self, i):
        return {"i": i, "landing": self.landing}

    def _drain(self, kind: str, build, i: int):
        from docarray_spark.streaming import run_to_memory_sink

        name = f"{kind}_{i}"
        clock = Clock()
        self.tr.call("streaming.run_to_memory_sink", build,
                     lambda sdf: run_to_memory_sink(sdf, name))
        stage = clock.lap()
        progress = self.progress.wait(name)
        rows = self.spark.table(name).collect()
        self.spark.catalog.dropTempView(name)
        return {"rows": rows, "progress": progress, "stage": stage}

    def run(self, prep):
        from docarray_spark.streaming import read_stream, session_windows, streaming_dedup

        def events():
            return read_stream(self.spark, prep["landing"], EVENT_SCHEMA,
                               max_files_per_trigger=1)

        wm = f"{self.DELAY_S} seconds"
        out = {
            "dedup": self._drain("dedup", lambda: streaming_dedup(
                events(), self.DEDUP_COLS, "ts", watermark=wm), prep["i"]),
            "sessions": self._drain("sessions", lambda: session_windows(
                events(), "ts", ["user_id"], gap=f"{self.GAP_S} seconds",
                watermark=wm, value_col="value"), prep["i"]),
        }
        out["stages"] = (out["dedup"]["stage"], out["sessions"]["stage"])
        return out

    def check(self, prep, out):
        problems = []
        ids = [r.event_id for r in out["dedup"]["rows"]]
        if len(ids) != len(set(ids)) or set(ids) != self.unique_ids:
            problems.append(f"streaming_dedup kept {len(ids)} rows ({len(set(ids))} "
                            f"distinct), expected the {len(self.unique_ids)} on-time events")
        got = {}
        for r in out["sessions"]["rows"]:
            key = (r.user_id, round(r.session_start.timestamp(), 6))
            if key in got:
                problems.append(f"session {key} emitted twice")
            got[key] = (r.session_end.timestamp(), r.n_events, r.sum_value)
        o = self.oracle
        want = {(u, round(st, 6)): (e, n, v) for u, st, e, n, v in zip(
            o["user_id"], o["start"], o["end"], o["n_events"], o["sum_value"])}
        for key, (end, n, v) in got.items():
            w = want.get(key)
            if w is None or abs(w[0] - end) > 1e-3 or w[1] != n or abs(w[2] - v) > 1e-6:
                problems.append(f"session {key} = {(end, n, v)}, pandas has {w}")
                break
        for key, (end, _, _) in want.items():
            # closed before the last file's watermark: must be out; still
            # open after it: must not be
            if end < self.wm_before_last - 1 and key not in got:
                problems.append(f"closed session {key} missing")
                break
            if end > self.wm_last + 1 and key in got:
                problems.append(f"open session {key} emitted")
                break
        return problems

    def corrupt(self, out):
        out["sessions"]["rows"] = out["sessions"]["rows"][1:]

    def record(self, prep, out, seconds, cpu_s):
        drains = (out["dedup"], out["sessions"])
        super().record(prep, out, seconds, cpu_s, sum(
            p.numInputRows for d in drains for p in d["progress"]))
        for drain in drains:
            batches = _count_stream(self, drain["progress"])
            self.drain_s.append(drain["stage"][0])
            self.batch_s.extend(p.durationMs.get("triggerExecution", 0) / 1e3
                                for p in batches)

    def op_p50(self):
        return statistics.median(self.batch_s)

    def throughput(self):
        return self.items / sum(self.drain_s)

    def report(self):
        return {
            "events_per_s": (self.throughput(), "1/s"),
            "microbatch_p50_s": (self.op_p50(), "s"),
            "microbatch_tail_s": (tail(self.batch_s), "s"),
        }


WORKLOADS = {w.name: w for w in (VectorSearch, TextDedup, StoreChurn, StreamIngest)}

# Sizes per scale. "full" is what the benchmark measures; "tiny" is for the
# self-test, which only has to exercise every path.
SIZES = {
    "vector_search": {
        "full": {"n": 40_000, "dim": 128, "clusters": 32, "dup_frac": 0.01,
                 "cells": 16, "probe": 4, "batch": 64, "min_recall": 0.8},
        "tiny": {"n": 2_000, "dim": 16, "clusters": 8, "dup_frac": 0.01,
                 "cells": 4, "probe": 2, "batch": 16, "min_recall": 0.5},
    },
    "text_dedup": {
        "full": {"docs": 3_000, "min_recall": 0.95},
        "tiny": {"docs": 200, "min_recall": 0.95},
    },
    "store_churn": {
        "full": {"n": 10_000, "dim": 64, "clusters": 16, "buckets": 16, "groups": 16,
                 "cells": 4, "probe": 2, "pq_m": 16, "pq_ksub": 32, "pq_sample": 4096,
                 "updates": 4, "inserts": 1, "deletes": 1, "redelivered": 2,
                 "queries": 16, "min_recall": 0.9},
        "tiny": {"n": 1_000, "dim": 16, "clusters": 4, "buckets": 16, "groups": 16,
                 "cells": 4, "probe": 2, "pq_m": 4, "pq_ksub": 8, "pq_sample": 500,
                 "updates": 6, "inserts": 2, "deletes": 2, "redelivered": 2,
                 "queries": 4, "min_recall": 0.3},
    },
    "stream_ingest": {
        "full": {"files": 6, "users": 1_000},
        "tiny": {"files": 4, "users": 60},
    },
}
