"""Approximate nearest-neighbour search (engine extension; SURVEY.md §4.2).

The reference delegates ANN to external HNSW stores (annlite/qdrant/
weaviate/elastic, ``/root/reference/docarray/array/storage/annlite/find.py:
16-44``); a 1000-executor Spark cluster can't host a single HNSW graph, so
the scale paths here are LSH bucketing and IVF partitioning — both turn the
kNN into *bucket equi-joins + per-query top-k*, the shape Spark executes
well at 100 TB:

* ``lsh_match``: random-hyperplane signatures, ``num_tables`` independent
  tables; candidates = signature-bucket equi-join (hash shuffle on short
  keys), exact distance only on candidates, per-query top-k window.
  Recall/cost dial: more tables/fewer planes → higher recall/more
  candidates.
* ``ivf_match``: deterministic coarse quantizer — centroids are a hash-
  sampled subset of the corpus; every vector is assigned to its nearest
  centroid (one broadcast of the small centroid set); queries probe the
  ``n_probe`` nearest cells. All joins are equi-joins on ``cell``.

Exact brute force (``operators/match.py``) stays the baseline; these trade
recall for candidate-set size. Recall is measured in tests against the
exact operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from docarray_spark.functions.distance import (
    cosine_distance_col,
    grouped_topk_keep,
    pair_distance_udf,
    sqeuclidean_distance_col,
    topk_keep,
)
from docarray_spark.functions.lsh import signatures_udf
from docarray_spark.functions.vectors import as_matrix, collect_queries

_PAIR_DIST = {
    "cosine": cosine_distance_col,
    "sqeuclidean": sqeuclidean_distance_col,
    "euclidean": lambda a, b: F.sqrt(sqeuclidean_distance_col(a, b)),
}


def lsh_match(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    corpus_id_col: str = "id",
    query_id_col: str = "id",
    emb_col: str = "embedding",
    num_planes: int = 10,
    num_tables: int = 8,
    seed: int = 42,
    round_scores: int | None = None,
    dim: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate top-k: hyperplane-LSH candidate join + exact re-rank.
    → (query_id, match_id, rank, score, metric_name); rank has no gaps but
    a query may return < k rows if its buckets are sparse.

    Hyperplanes are md5-derived ±1 signs (``functions/lsh.py``) — fully
    deterministic and SQL-reproducible, so the whole operator (bucketing
    included) is oracle-gated.

    Scale shape: the bucket equi-join carries ONLY (id, table, sig) —
    dense vectors never enter that shuffle (they'd be replicated
    num_tables×); candidates are deduped to id pairs first, then the two
    vector columns are re-joined once for the exact re-rank (same pattern
    as ``minhash_dedup_pairs``'s shingle re-join).

    Pass ``dim`` when known (it usually is) — otherwise one extra Spark
    job probes the first row for it.

    ``max_bucket``: drop corpus signature buckets larger than this before
    the candidate join — a degenerate hot bucket (constant embeddings,
    mass duplicates) makes the join quadratic in its size and carries no
    discrimination. Off by default (gated entries stay exact)."""
    if dim is None:
        dim = len(corpus.select(emb_col).first()[0])
    sig = signatures_udf(dim, num_tables, num_planes, seed)
    emb_d = F.expr(f"transform({emb_col}, x -> cast(x as double))")

    c = corpus.select(F.col(corpus_id_col).alias("match_id"), emb_d.alias("_cv"))
    q = queries.select(F.col(query_id_col).alias("query_id"), emb_d.alias("_qv"))

    # ids-only bucket tables: the projection consumes the vector and emits
    # nothing but (id, table, sig)
    c_b = c.select("match_id", F.posexplode(sig("_cv")).alias("table", "sig"))
    q_b = q.select("query_id", F.posexplode(sig("_qv")).alias("table", "sig"))
    if max_bucket is not None:
        # broadcast only the HOT keys (anti-join): the OK set is
        # corpus-bucket-sized — broadcasting it collects every distinct
        # signature to the driver (r4 scale run: >1 GB at 4M rows)
        hot = (
            c_b.groupBy("table", "sig")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") > max_bucket)
            .select("table", "sig")
        )
        c_b = c_b.join(F.broadcast(hot), ["table", "sig"], "left_anti")

    cand = (
        q_b.join(c_b, ["table", "sig"])
        .select("query_id", "match_id")
        .dropDuplicates(["query_id", "match_id"])
    )
    # Arrow pair kernel, bit-identical to the fold form (distance.py): the
    # interpreted HOF fold cost ~µs-ms per joined pair at re-rank volume
    dist = pair_distance_udf(metric)(F.col("_qv"), F.col("_cv"))
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "match_id")
        .select("query_id", "match_id", dist.alias("score"))
    )
    # asc_nulls_last: a degenerate candidate (zero-norm / NaN-component
    # vector) scores NULL through the Arrow pair kernel, and plain asc()
    # sorts NULLs FIRST — it would silently become the top-1 match
    # (ADVICE r12 #1). Well-formed scores are never NULL, so ordering of
    # real results is unchanged.
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc_nulls_last(), F.col("match_id").asc()
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    score = F.round("score", round_scores) if round_scores is not None else F.col("score")
    return out.select(
        "query_id", "match_id", "rank", score.alias("score"),
        F.lit(metric).alias("metric_name"),
    )


def _ivf_centroids(
    base: DataFrame,
    n_cells: int,
    centroids: list[tuple[int, list[float]]] | None,
) -> list[tuple[int, list[float]]]:
    """The coarse quantizer as cell-sorted ``(cell, vector)`` pairs: the
    caller's ``centroids`` or, by default, the ``n_cells`` rows of
    ``base(id, v)`` with the smallest md5(id), numbered in id order (one
    small eager job — n_cells rows to the driver, the same bounded-collect
    stance as ``match``'s query batch)."""
    if centroids is not None:
        # caller-trained quantizer — typically cluster.kmeans centroids
        # (classic IVF): clustered cells concentrate true neighbours, so
        # the same n_probe fraction yields far higher recall on structured
        # corpora than the hash-sampled default (which stays the
        # SQL-oracle-able choice for the gated entries)
        return sorted((int(c), [float(x) for x in v]) for c, v in centroids)
    rows = (
        base.withColumn("_h", F.md5(F.col("id").cast("string")))
        .orderBy("_h")
        .limit(n_cells)
        .drop("_h")
        .orderBy("id")  # n_cells rows: cell numbering sorts on the driver
        .collect()
    )
    return [(i, [float(x) for x in r.v]) for i, r in enumerate(rows)]


def ivf_index(
    corpus: DataFrame,
    n_cells: int,
    corpus_id_col: str = "id",
    emb_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic IVF coarse quantizer: centroids = the ``n_cells``
    corpus vectors with the smallest md5(id) (a uniform hash-sample —
    engine-portable, no iterative kmeans; see :func:`_ivf_centroids`);
    assignment = per-row argmin sqeuclidean against the broadcast centroid
    set, so cell assignment is a ZERO-SHUFFLE map over the corpus (round-1
    verdict flaw #1: the earlier crossJoin + Window.partitionBy(id)
    formulation hash-exchanged N×n_cells rows with vectors attached).

    Assignment goes through :func:`cluster.assign_cells`, which dispatches
    on k·d: a dimension-order ``arrow_udf`` argmin (bit-identical to the
    SQL-replayable literal fold) for small centroid sets, the BLAS
    ``arrow_udf`` argmin beyond ``LITERAL_ARGMIN_MAX_KD``. Both are
    zero-shuffle.

    → (centroids(cell, centroid), assigned(cell, id, embedding));
    ``assigned`` is typically written out partitioned/bucketed BY cell so
    probes prune files."""
    from docarray_spark.functions.localexec import local_table
    from docarray_spark.operators.cluster import assign_cells

    emb_d = F.expr(f"transform({emb_col}, x -> cast(x as double))")
    base = corpus.select(F.col(corpus_id_col).alias("id"), emb_d.alias("v"))
    cents = _ivf_centroids(base, n_cells, centroids)
    cent = local_table(corpus.sparkSession, cents, "cell int, centroid array<double>")
    return cent, assign_cells(base, cents)


def ivf_match(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    metric: str = "cosine",
    corpus_id_col: str = "id",
    query_id_col: str = "id",
    emb_col: str = "embedding",
    round_scores: int | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
    vectorized: bool = False,
    max_query_rows: int = 65536,
) -> DataFrame:
    """IVF approximate top-k: assign corpus to cells, probe the ``n_probe``
    closest cells per query, exact distance inside probed cells only.
    Default quantizer is the deterministic hash-sample (SQL-oracle-able);
    pass ``centroids`` (e.g. from ``cluster.kmeans``) for classic
    kmeans-IVF — higher recall per probed fraction on clustered data.

    ``vectorized=False`` (default) is the SQL-relational formulation the
    oracle replays — cell equi-join + per-pair distance expressions. Its
    candidate join ships probed-cell rows WITH vectors through a shuffle
    keyed on ≤ ``n_cells`` values, which is both a hot-key exchange and a
    per-row-expression scorer: fine at oracle scale, ~50× slower than the
    exact BLAS path at 1M×128 (r6 frontier probe: 654 ms/q vs 12 ms/q).

    ``vectorized=True`` is the SERVING path — same results, zero corpus
    shuffle and ONE pass over the raw corpus: queries and their probe sets
    broadcast (bounded by ``max_query_rows``, the ``match``/``pq_match``
    stance) with the centroids, and a single ``mapInArrow`` reads
    ``(id, embedding)`` as stored. Each Arrow batch computes its rows'
    cells (the ``cluster.assign_cells`` kernel and dispatch, so cells are
    bit-identical to the relational path's), scores only rows in probed
    cells against exactly the queries probing them, keeps everything ≤
    the per-partition k-th score (boundary ties retained so results are
    partitioning-independent), and only k×partitions candidate rows reach
    the rank window (measured on the r6 frontier — NOTES.md)."""
    if vectorized:
        return _ivf_match_vectorized(
            corpus, queries, k, n_cells, n_probe, metric, corpus_id_col,
            query_id_col, emb_col, round_scores, centroids, max_query_rows,
        )
    cent, assigned = ivf_index(corpus, n_cells, corpus_id_col, emb_col, centroids)
    emb_d = F.expr(f"transform({emb_col}, x -> cast(x as double))")
    q = queries.select(F.col(query_id_col).alias("query_id"), emb_d.alias("qv"))

    qc = q.crossJoin(F.broadcast(cent))
    dcell = sqeuclidean_distance_col(F.col("qv"), F.col("centroid"))
    wq = Window.partitionBy("query_id").orderBy(dcell.asc(), F.col("cell").asc())
    probes = (
        qc.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "qv", "cell")
    )

    cand = probes.join(assigned, "cell")
    # Arrow pair kernel ≡ the fold form (distance.py) — the probed-cell
    # candidate set re-ranks at n_q·n_probe·cell-size volume
    dist = pair_distance_udf(metric)(F.col("qv"), F.col("v"))
    # asc_nulls_last: see lsh_match (ADVICE r12 #1 — NULL kernel scores
    # must rank last, not first)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc_nulls_last(), F.col("match_id").asc()
    )
    out = (
        cand.select("query_id", F.col("id").alias("match_id"), dist.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    score = F.round("score", round_scores) if round_scores is not None else F.col("score")
    return out.select(
        "query_id", "match_id", "rank", score.alias("score"),
        F.lit(metric).alias("metric_name"),
    )


def _ivf_match_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int,
    n_probe: int,
    metric: str,
    corpus_id_col: str,
    query_id_col: str,
    emb_col: str,
    round_scores: int | None,
    centroids: list[tuple[int, list[float]]] | None,
    max_query_rows: int,
) -> DataFrame:
    """Single-pass IVF assign+score (see ``ivf_match(vectorized=True)``)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from docarray_spark.operators.cluster import (
        LITERAL_ARGMIN_MAX_KD,
        cell_sqdist,
        nearest_cells,
    )

    if metric not in _PAIR_DIST:
        raise ValueError(f"ivf_match supports {sorted(_PAIR_DIST)}, got {metric!r}")
    base = corpus.select(F.col(corpus_id_col).alias("id"), F.col(emb_col).alias("v"))
    cmat = np.asarray([v for _, v in _ivf_centroids(base, n_cells, centroids)])
    qids, qmat = collect_queries(
        queries, query_id_col, emb_col, max_query_rows, "ivf_match"
    )
    # probe selection mirrors the SQL window — the fold's sqeuclidean asc,
    # then cell asc (centroids are cell-sorted, so a stable sort on the
    # dimension-order distances is exactly that order)
    probes = np.argsort(cell_sqdist(qmat, cmat, exact=True), axis=1, kind="stable")
    cell2q: dict[int, list[int]] = {}
    for qi, row in enumerate(probes[:, :n_probe]):
        for pos in row:
            cell2q.setdefault(int(pos), []).append(qi)

    # corpus cells: assign_cells' dispatch, as ivf_index would assign them
    exact = cmat.size <= LITERAL_ARGMIN_MAX_KD
    bc = corpus.sparkSession.sparkContext.broadcast((qids, qmat, cmat, cell2q, metric))
    out_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[query_id_col].dataType),
            T.StructField("match_id", base.schema["id"].dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )

    arrow_schema = to_arrow_schema(out_schema)

    def _partition_topk(batches):
        q_ids, q_mat, C, c2q, met = bc.value
        qarr = np.asarray(q_ids, dtype=object)
        acc_q, acc_s, acc_i = [], [], []
        for batch in batches:
            X, valid = as_matrix(batch.column("v"), dim=C.shape[1])
            pos = nearest_cells(cell_sqdist(X, C, exact), valid)
            batch_ids = batch.column("id").to_numpy(zero_copy_only=False)
            for cell in np.unique(pos):
                qidx = c2q.get(int(cell))  # never -1: rows with no cell
                if not qidx:
                    continue
                in_cell = pos == cell
                ids, mat = batch_ids[in_cell], X[in_cell]
                qs = q_mat[qidx]
                if met == "cosine":
                    # eps=0 form — must mirror cosine_distance_col exactly
                    d = 1.0 - (qs @ mat.T) / np.outer(
                        np.linalg.norm(qs, axis=1), np.linalg.norm(mat, axis=1)
                    )
                else:
                    d = np.maximum(
                        (qs**2).sum(1)[:, None]
                        - 2.0 * qs @ mat.T
                        + (mat**2).sum(1)[None, :],
                        0.0,
                    )
                    if met == "euclidean":
                        d = np.sqrt(d)
                qi_loc, ci = topk_keep(d, k)
                acc_q.append(np.asarray(qidx)[qi_loc])
                acc_s.append(d[qi_loc, ci])
                acc_i.append(ids[ci])
        if not acc_q:
            return
        qi = np.concatenate(acc_q)
        s = np.concatenate(acc_s)
        keep = grouped_topk_keep(qi, s, k)
        yield pa.RecordBatch.from_pydict(
            {
                "query_id": qarr[qi[keep]],
                "match_id": np.concatenate(acc_i)[keep],
                "score": s[keep],
            },
            schema=arrow_schema,
        )

    cand = base.mapInArrow(_partition_topk, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc_nulls_last(), F.col("match_id").asc()
    )
    out = (
        cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    )
    score = F.round("score", round_scores) if round_scores is not None else F.col("score")
    return out.select(
        "query_id", "match_id", "rank", score.alias("score"),
        F.lit(metric).alias("metric_name"),
    )
