"""Per-partition HNSW ANN (engine extension; SURVEY.md §4.2).

The reference's ANN stores are HNSW-backed (annlite/qdrant/weaviate,
``/root/reference/docarray/array/storage/annlite/find.py:16-44``). A single
HNSW graph cannot span 1000 executors, but the standard distributed layout
— used by every sharded vector store — can: **one graph per partition,
queries broadcast to all partitions, per-partition top-k, global merge**.
That is this operator. The graph itself is the pure-numpy implementation of
the published algorithm (``functions/hnsw.py``; Malkov & Yashunin 2018), so
the path is real in this environment, not stubbed behind a missing package.

Scale shape: the corpus NEVER shuffles — each task builds/owns its
partition's graph and emits at most ``k`` rows per query; the only exchange
is the ``k × partitions`` candidate rows into the rank window (the same
merge as ``operators/match.py``). Query cost per partition is
``O(ef · log n)`` distance batches instead of the brute-force ``O(n)``.

Index lifetime: ``hnsw_match`` builds the graph inside the action —
amortize by batching queries (they broadcast together, one build serves
all). For the store role (build once, query forever) use
:func:`hnsw_build_store` + :func:`hnsw_match_stored`: each task serializes
its finished graph into ONE parquet row (partition id + pickled index
blob), and every later query batch deserializes and searches without
rebuilding — the same "immutable sealed segment" lifecycle HNSW-backed
stores use. The blobs are engine-written and engine-read (never
user-supplied), which is the boundary that makes pickle acceptable here.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from docarray_spark.functions.hnsw import HNSWIndex
from docarray_spark.functions.vectors import as_matrix, collect_queries, unit_rows

_MAX_QUERY_ROWS = 65536
_METRICS = ("sqeuclidean", "euclidean", "cosine")


def _partition_vectors(batches, id_col, emb_col, dim, cosine):
    """``(keys, matrix)`` of every row of a partition's Arrow batches whose
    embedding :func:`as_matrix` accepts (``dim`` long, or as long as the
    first such row when ``dim`` is None); unit rows for cosine. ``(None,
    None)`` when there is none."""
    keys: list = []
    mats: list[np.ndarray] = []
    for batch in batches:
        X, valid = as_matrix(batch.column(emb_col), dim=dim)
        if not valid.any():
            continue
        dim = X.shape[1]
        keys += list(batch.column(id_col).to_numpy(zero_copy_only=False)[valid])
        mats.append(X[valid])
    if not keys:
        return None, None
    mat = np.vstack(mats)
    return keys, unit_rows(mat) if cosine else mat


def hnsw_match(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    corpus_id_col: str = "id",
    query_id_col: str = "id",
    emb_col: str = "embedding",
    query_emb_col: str | None = None,
    M: int = 16,
    ef_construction: int = 100,
    ef: int | None = None,
    round_scores: int | None = None,
    max_query_rows: int = _MAX_QUERY_ROWS,
    filter: dict | None = None,
) -> DataFrame:
    """HNSW approximate top-k → (query_id, match_id, rank, score,
    metric_name). Cosine runs on unit-normalized vectors via the standard
    identity ``|a-b|² = 2·(1-cos)`` so scores are exact cosine distances;
    euclidean takes the sqrt of the graph's squared distances. Recall
    floors vs the exact operator are pinned in ``tests/test_ann.py``.

    ``filter``: Mongo-style pre-filter (the reference's filtered vector
    search, ``annlite/find.py:21-44``) — compiled to a Catalyst predicate
    and applied BEFORE graph construction, so the filter pushes into the
    corpus scan and the graph only indexes qualifying rows."""
    if metric not in _METRICS:
        raise ValueError(f"hnsw_match supports {_METRICS}, got {metric!r}")
    if filter:
        from docarray_spark.queryset.compiler import compile_filter

        corpus = corpus.filter(compile_filter(corpus, filter))
    query_emb_col = query_emb_col or emb_col
    qids, qmat = collect_queries(
        queries, query_id_col, query_emb_col, max_query_rows, "hnsw_match"
    )
    if metric == "cosine":
        qmat = unit_rows(qmat)

    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((qids, qmat))
    corpus_id_type = corpus.schema[corpus_id_col].dataType
    query_id_type = queries.schema[query_id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", query_id_type),
            T.StructField("match_id", corpus_id_type),
            T.StructField("score", T.DoubleType()),
        ]
    )
    mm, efc, efs, met = M, ef_construction, ef, metric

    arrow_schema = to_arrow_schema(out_schema)

    def _partition_search(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        q_ids, q_mat = bc.value
        keys, mat = _partition_vectors(
            batches, corpus_id_col, emb_col, q_mat.shape[1], met == "cosine"
        )
        if keys is None:
            return
        index = HNSWIndex(dim=mat.shape[1], M=mm, ef_construction=efc)
        index.add_batch(keys, mat)
        rows_q, rows_m, rows_s = [], [], []
        for qid, qv in zip(q_ids, q_mat):
            for d, key in index.search(qv, k, ef=efs):
                rows_q.append(qid)
                rows_m.append(key)
                # unit vectors: |a-b|²/2 = 1 - cos, the exact cosine distance
                rows_s.append(d / 2.0 if met == "cosine" else d)
        if rows_q:
            yield pa.RecordBatch.from_pydict(
                {"query_id": rows_q, "match_id": rows_m, "score": rows_s},
                schema=arrow_schema,
            )

    cand = corpus.select(corpus_id_col, emb_col).mapInArrow(
        _partition_search, out_schema
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc(), F.col("match_id").asc()
    )
    out = cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    score = F.col("score")
    if metric == "euclidean":
        score = F.sqrt(F.greatest(score, F.lit(0.0)))
    if round_scores is not None:
        score = F.round(score, round_scores)
    return out.select(
        "query_id", "match_id", "rank", score.alias("score"),
        F.lit(metric).alias("metric_name"),
    )


def hnsw_build_store(
    corpus: DataFrame,
    path: str,
    metric: str = "cosine",
    corpus_id_col: str = "id",
    emb_col: str = "embedding",
    M: int = 16,
    ef_construction: int = 100,
    mode: str = "error",
) -> None:
    """Build one HNSW graph per corpus partition and persist each as a
    single parquet row ``(part_id, metric, n, blob)`` — the sealed-segment
    store. Build cost is paid ONCE; :func:`hnsw_match_stored` then serves
    any number of query batches without rebuilding (the gap ``hnsw_match``'s
    build-per-action leaves open).

    ``metric`` is baked into the store: cosine graphs hold unit-normalized
    vectors (``|a-b|² = 2·(1-cos)``), so the query side must match —
    ``hnsw_match_stored`` enforces it."""
    if metric not in _METRICS:
        raise ValueError(f"hnsw_build_store supports {_METRICS}, got {metric!r}")
    mm, efc, met = M, ef_construction, metric
    id_type = corpus.schema[corpus_id_col].dataType.simpleString()

    def _build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pickle

        from pyspark import TaskContext

        keys, mat = _partition_vectors(
            batches, corpus_id_col, emb_col, None, met == "cosine"
        )
        if keys is None:
            return
        index = HNSWIndex(dim=mat.shape[1], M=mm, ef_construction=efc)
        index.add_batch(keys, mat)
        # pickling trims growth slack, drops derived norms, and rounds the
        # vectors to float32 (HNSWIndex.__getstate__) — the blob is ~half
        # the float64 in-memory footprint
        yield pa.RecordBatch.from_pydict(
            {
                "part_id": pa.array([TaskContext.get().partitionId()], pa.int32()),
                "metric": [met],
                "id_type": [id_type],
                "n": [index.n],
                "blob": [pickle.dumps(index, protocol=5)],
            }
        )

    (
        corpus.select(corpus_id_col, emb_col)
        .mapInArrow(
            _build,
            "part_id int, metric string, id_type string, n long, blob binary",
        )
        .write.mode(mode)
        .parquet(path)
    )


def hnsw_match_stored(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    query_id_col: str = "id",
    query_emb_col: str = "embedding",
    ef: int | None = None,
    round_scores: int | None = None,
    max_query_rows: int = _MAX_QUERY_ROWS,
    allowed_ids: DataFrame | None = None,
    max_allowed_rows: int = 2_000_000,
) -> DataFrame:
    """Search a persisted :func:`hnsw_build_store` store → (query_id,
    match_id, rank, score, metric_name). One task per stored graph row:
    deserialize, search every broadcast query, emit per-graph top-k; the
    global window merge is the only exchange.

    ``allowed_ids`` (optional, single-column DataFrame): FILTERED search
    over the prebuilt graphs — the stored-index twin of ``hnsw_match``'s
    Mongo-style ``filter`` (which filters before graph BUILD; here the
    graphs already exist, so the allow-set restricts result emission
    while traversal stays unrestricted, the standard filtered-HNSW
    recipe). Produce it however you like — typically ``queryset.find``
    over the document store projected to the id column. The set is
    broadcast (``max_allowed_rows`` budget — for coarser filters, scan
    exact instead: a filter keeping most of the corpus makes brute force
    the better plan anyway), and the per-graph beam ``ef`` auto-scales by
    the global selectivity ``k/sel`` (capped at the segment size, where
    the search degrades gracefully to exhaustive) so ≥k qualifying
    candidates survive the beam."""
    if metric not in _METRICS:
        raise ValueError(f"hnsw_match_stored supports {_METRICS}, got {metric!r}")
    store = spark.read.parquet(path)
    meta = store.select("metric", "id_type").distinct().collect()
    stored_metrics = {r.metric for r in meta}
    if stored_metrics != {metric}:
        raise ValueError(
            f"store at {path!r} was built for metric {sorted(stored_metrics)}, "
            f"queried with {metric!r}"
        )
    id_type = meta[0].id_type
    qids, qmat = collect_queries(
        queries, query_id_col, query_emb_col, max_query_rows, "hnsw_match_stored"
    )
    if metric == "cosine":
        qmat = unit_rows(qmat)
    allow, sel = None, 1.0
    if allowed_ids is not None:
        acol = allowed_ids.columns[0]
        arows = (
            allowed_ids.select(acol).dropna().distinct()
            .limit(max_allowed_rows + 1).collect()
        )
        if len(arows) > max_allowed_rows:
            raise ValueError(
                f"allowed_ids exceeds the broadcast budget ({max_allowed_rows} "
                "rows) — a filter this coarse is better served by the exact "
                "filtered scan (match(filter=...))"
            )
        allow = {r[0] for r in arows}
        total_n = store.agg(F.sum("n")).first()[0] or 1
        sel = max(len(allow) / total_n, 1e-9)
    bc = spark.sparkContext.broadcast((qids, qmat, allow, sel))
    query_id_type = queries.schema[query_id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", query_id_type),
            T.StructField("match_id", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    met, efs, kk = metric, ef, k

    def _search(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math
        import pickle

        q_ids, q_mat, allow_set, sel_f = bc.value
        for pdf in batches:
            for blob in pdf["blob"]:
                index = pickle.loads(blob)
                ef_use = efs
                if allow_set is not None:
                    # beam must hold ~k/sel candidates for ≥k qualifying
                    base = max(efs or index.ef_construction, kk)
                    ef_use = min(index.n, max(base, math.ceil(kk / sel_f)))
                rows_q, rows_m, rows_s = [], [], []
                for qid, qv in zip(q_ids, q_mat):
                    for d, key in index.search(qv, kk, ef=ef_use, allow=allow_set):
                        rows_q.append(qid)
                        rows_m.append(str(key))
                        rows_s.append(d / 2.0 if met == "cosine" else d)
                if rows_q:
                    yield pd.DataFrame(
                        {"query_id": rows_q, "match_id": rows_m, "score": rows_s}
                    )

    # one graph blob per task: each row is a multi-MB sealed segment
    cand = store.select("blob").repartition(max(store.count(), 1)).mapInPandas(
        _search, out_schema
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc(), F.col("match_id").asc()
    )
    out = cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    score = F.col("score")
    if metric == "euclidean":
        score = F.sqrt(F.greatest(score, F.lit(0.0)))
    if round_scores is not None:
        score = F.round(score, round_scores)
    return out.select(
        "query_id",
        F.col("match_id").cast(id_type).alias("match_id"),  # stored id type
        "rank",
        score.alias("score"),
        F.lit(metric).alias("metric_name"),
    )
