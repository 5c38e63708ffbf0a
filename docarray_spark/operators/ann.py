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


def ivf_index(
    corpus: DataFrame,
    n_cells: int,
    corpus_id_col: str = "id",
    emb_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic IVF coarse quantizer: centroids = the ``n_cells``
    corpus vectors with the smallest md5(id) (a uniform hash-sample —
    engine-portable, no iterative kmeans); assignment = per-row argmin
    sqeuclidean against the centroid set folded INTO the projection as a
    literal array, so cell assignment is a ZERO-SHUFFLE map over the
    corpus (round-1 verdict flaw #1: the earlier crossJoin +
    Window.partitionBy(id) formulation hash-exchanged N×n_cells rows with
    vectors attached).

    The small centroid job runs eagerly here (n_cells rows to the driver —
    same bounded-collect stance as ``match``'s query batch). Assignment
    goes through :func:`cluster.assign_cells`, which dispatches on k·d:
    codegen literal fold for small centroid sets (SQL-oracle-able),
    broadcast-matrix pandas_udf argmin beyond ``LITERAL_ARGMIN_MAX_KD``
    (VERDICT r2 #2 — the literal fold at thousands of cells × hundreds of
    dims would overflow janino's method budget). Both are zero-shuffle.

    → (centroids(cell, centroid), assigned(cell, id, embedding));
    ``assigned`` is typically written out partitioned/bucketed BY cell so
    probes prune files."""
    from docarray_spark.operators.cluster import assign_cells

    emb_d = F.expr(f"transform({emb_col}, x -> cast(x as double))")
    base = corpus.select(F.col(corpus_id_col).alias("id"), emb_d.alias("v"))
    if centroids is None:
        cent_rows = (
            base.withColumn("_h", F.md5(F.col("id").cast("string")))
            .orderBy("_h")
            .limit(n_cells)
            .drop("_h")
            .orderBy("id")  # n_cells rows: cell numbering sorts on the driver
            .collect()
        )
        cents = [(i, [float(x) for x in r.v]) for i, r in enumerate(cent_rows)]
    else:
        # caller-trained quantizer — typically cluster.kmeans centroids
        # (classic IVF): clustered cells concentrate true neighbours, so
        # the same n_probe fraction yields far higher recall on structured
        # corpora than the hash-sampled default (which stays the
        # SQL-oracle-able choice for the gated entries)
        cents = sorted((int(c), [float(x) for x in v]) for c, v in centroids)
    spark = corpus.sparkSession
    from docarray_spark.functions.localexec import local_table

    cent = local_table(spark, cents, "cell int, centroid array<double>")
    assigned = assign_cells(base, cents)
    return cent, assigned


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
    shuffle: queries and their probe sets broadcast (bounded by
    ``max_query_rows``, the ``match``/``pq_match`` stance), one
    Arrow-batched pass over the assigned corpus computes BLAS distances
    for each row against exactly the queries probing its cell, keeps
    everything ≤ the per-partition k-th score (boundary ties retained so
    results are partitioning-independent), and only k×partitions candidate
    rows reach the rank window (measured on the r6 frontier — NOTES.md)."""
    cent, assigned = ivf_index(corpus, n_cells, corpus_id_col, emb_col, centroids)
    if vectorized:
        return _ivf_match_vectorized(
            cent, assigned, queries, k, n_probe, metric,
            corpus_id_col, query_id_col, emb_col, round_scores, max_query_rows,
        )
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
    cent: DataFrame,
    assigned: DataFrame,
    queries: DataFrame,
    k: int,
    n_probe: int,
    metric: str,
    corpus_id_col: str,
    query_id_col: str,
    emb_col: str,
    round_scores: int | None,
    max_query_rows: int,
) -> DataFrame:
    """Zero-shuffle IVF scorer (see ``ivf_match(vectorized=True)``)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if metric not in _PAIR_DIST:
        raise ValueError(f"ivf_match supports {sorted(_PAIR_DIST)}, got {metric!r}")
    cent_rows = sorted((r.cell, r.centroid) for r in cent.collect())
    cmat = np.asarray([v for _, v in cent_rows], dtype=np.float64)
    cells = np.asarray([c for c, _ in cent_rows])
    qrows = (
        queries.select(query_id_col, emb_col).dropna().limit(max_query_rows + 1).collect()
    )
    if not qrows:
        raise ValueError("queries side is empty")
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"ivf_match broadcasts the query side (> {max_query_rows} rows)"
        )
    qids = [r[0] for r in qrows]
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    # probe selection mirrors the SQL window: sqeuclidean asc, cell asc
    dcell = (
        (qmat**2).sum(1)[:, None] - 2.0 * qmat @ cmat.T + (cmat**2).sum(1)[None, :]
    )
    cell2q: dict[int, list[int]] = {}
    np_probe = min(n_probe, len(cells))
    for qi in range(len(qids)):
        order = np.lexsort((cells, dcell[qi]))[:np_probe]
        for ci in order:
            cell2q.setdefault(int(cells[ci]), []).append(qi)

    spark = assigned.sparkSession
    bc = spark.sparkContext.broadcast((qids, qmat, cell2q, metric))
    query_id_type = queries.schema[query_id_col].dataType
    corpus_id_type = assigned.schema["id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", query_id_type),
            T.StructField("match_id", corpus_id_type),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def _partition_topk(batches):
        q_ids, q_mat, c2q, met = bc.value
        qarr = np.asarray(q_ids, dtype=object)
        acc_q, acc_s, acc_i = [], [], []
        for pdf in batches:
            if not len(pdf):
                continue
            cell_vals = pdf["cell"].to_numpy()
            for cell in np.unique(cell_vals):
                qidx = c2q.get(int(cell))
                if not qidx:
                    continue
                sub = pdf[cell_vals == cell]
                ids = sub["id"].to_numpy()
                mat = np.asarray([np.asarray(v, dtype=np.float64) for v in sub["v"]])
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
        yield pd.DataFrame(
            {
                "query_id": qarr[qi[keep]],
                "match_id": np.concatenate(acc_i)[keep],
                "score": s[keep],
            }
        )

    cand = assigned.select("cell", "id", "v").mapInPandas(_partition_topk, out_schema)
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
