"""Product-quantization ANN (engine extension; SURVEY.md §4.2 scale path).

Public-knowledge basis: Jégou/Douze/Schmid, *Product Quantization for
Nearest Neighbor Search* (IEEE TPAMI 2011) — the ADC/IVF-ADC design that
FAISS popularized. The reference delegates ANN to external HNSW stores
(``/root/reference/docarray/array/storage/annlite/find.py:16-44``); a graph
index can't be hosted across 1000 executors, but PQ can: it is a *columnar
compression* of the vectors, and the search is a scan — exactly what Spark
executes well.

Why it matters at 100 TB: a 128-d float32 embedding is 512 B; its PQ code
(m=16 subspaces × 8 bits) is 16 B — **32×** smaller. The ADC scan reads
codes only, so a corpus whose raw vectors are 100 TB is searched from
~3 TB of codes, with distances computed by table lookup (no float math per
dimension). The pipeline:

* :func:`pq_train` — per-subspace k-means codebooks on a bounded,
  deterministic hash-sample (driver numpy; classic PQ trains on a sample).
* :func:`pq_encode` — map-only Arrow pass: argmin over each subspace's
  codebook → one uint8 per subspace, packed into a BINARY codes column.
  Zero shuffle; typically written out once and reused by every query batch.
* :func:`pq_match` — asymmetric distance computation (ADC): per query a
  (m × ksub) lookup table of partial distances, then every corpus code
  scores as m table lookups. Per-partition top-k, then the same
  window-merge as ``operators/match.py`` — the corpus never shuffles; only
  ``k × partitions`` candidate rows reach the merge.
* :func:`ivfpq_match` — IVF cell pruning on top (probe ``n_probe`` cells,
  ADC inside probed cells only); the encoded table is keyed by ``cell`` so
  a persisted copy partitioned BY cell gives partition-pruned scans.

Exact kNN (``operators/match.py``) stays the correctness baseline; recall
floors vs it are pinned in ``tests/test_ann.py``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docarray_spark.functions.distance import grouped_topk_keep, topk_keep

_MAX_TRAIN_SAMPLE = 262144  # driver-collect budget (same stance as match())
_MAX_QUERY_ROWS = 65536


def _as_matrix(series: pd.Series) -> np.ndarray:
    return np.asarray([np.asarray(e, dtype=np.float64) for e in series])


def _subspace_bounds(dim: int, m: int) -> list[tuple[int, int]]:
    """Split ``dim`` into m contiguous subspaces, first ``dim % m`` get the
    extra dimension (FAISS requires m | dim; contiguous uneven split keeps
    the operator usable on any dim)."""
    base, extra = divmod(dim, m)
    bounds, lo = [], 0
    for j in range(m):
        hi = lo + base + (1 if j < extra else 0)
        bounds.append((lo, hi))
        lo = hi
    return bounds


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 256,
    id_col: str = "id",
    emb_col: str = "embedding",
    sample: int = 16384,
    n_iter: int = 10,
    dim: int | None = None,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks: k-means (Lloyd, numpy) independently on
    each of the ``m`` contiguous subspaces of a deterministic md5-ordered
    hash-sample of the corpus. Returns ``codebooks[m][ksub][dsub]``
    (ragged when ``m ∤ dim``), plain lists so callers can pass them through
    broadcasts / literals.

    Deterministic end to end: the sample is md5-ordered (stable across
    partitionings), init takes the first ``ksub`` sample rows, and Lloyd
    iterations are pure numpy — retraining reproduces the same codebooks.
    Empty clusters re-seed from the most-populated cluster's farthest
    member (standard k-means repair, deterministic)."""
    if sample > _MAX_TRAIN_SAMPLE:
        raise ValueError(
            f"pq_train collects the training sample to the driver; "
            f"sample={sample} exceeds the {_MAX_TRAIN_SAMPLE} budget"
        )
    base = (
        corpus.select(F.col(id_col).alias("_id"), F.col(emb_col).alias("v"))
        .dropna(subset=["v"])
        .withColumn("_h", F.md5(F.col("_id").cast("string")))
    )
    # A bare orderBy(_h).limit(sample) ships every task's top-`sample`
    # FULL vectors to the driver — 64 tasks × 16k × 128-d blew
    # spark.driver.maxResultSize at the 5M-row scale probe. Pre-filter to
    # a hash prefix that passes ~3× the sample (map-only, no vectors
    # shuffled), then order-limit the survivors.
    n = base.count()
    filtered = base
    if n > 3 * sample:
        frac = 3.0 * sample / n
        # _h is uniform hex: keep rows whose 8-char prefix is below frac
        cut = format(max(1, int(frac * 16**8)), "08x")
        filtered = base.filter(F.substring("_h", 1, 8) < cut)
    rows = filtered.orderBy("_h").limit(sample).select("v").collect()
    if len(rows) < min(sample, n):
        # freak under-selection (the sample-th order statistic landed
        # above the 3× cut) — fall back to the unfiltered order-limit so
        # the selected set stays exactly "the `sample` smallest hashes"
        rows = base.orderBy("_h").limit(sample).select("v").collect()
    if not rows:
        raise ValueError("pq_train: corpus is empty")
    mat = np.asarray([r.v for r in rows], dtype=np.float64)
    dim = dim or mat.shape[1]
    if ksub > len(mat):
        raise ValueError(f"ksub={ksub} exceeds training sample size {len(mat)}")
    if ksub > 256:
        raise ValueError("ksub > 256 does not fit the uint8 code layout")
    books: list[list[list[float]]] = []
    for lo, hi in _subspace_bounds(dim, m):
        sub = mat[:, lo:hi]
        cent = sub[:ksub].copy()
        for _ in range(n_iter):
            # (n, ksub) sqeuclidean via the expansion trick
            d = (
                (sub**2).sum(1)[:, None]
                - 2.0 * sub @ cent.T
                + (cent**2).sum(1)[None, :]
            )
            assign = d.argmin(1)
            for c in range(ksub):
                mask = assign == c
                if mask.any():
                    cent[c] = sub[mask].mean(0)
                else:
                    big = np.bincount(assign, minlength=ksub).argmax()
                    far = d[assign == big, big].argmax()
                    cent[c] = sub[assign == big][far]
        books.append([[float(x) for x in row] for row in cent])
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "id",
    emb_col: str = "embedding",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """→ (id[, keep_cols...], codes BINARY): each vector compressed to one
    uint8 per subspace (argmin over that subspace's codebook), packed into
    ``m`` bytes. Map-only Arrow pass — zero shuffle; persist the result
    (ideally partitioned by an IVF cell) and the raw vectors never need to
    be read again for search."""
    m = len(codebooks)
    dim = sum(len(b[0]) for b in codebooks)
    bounds = _subspace_bounds(dim, m)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(
        [np.asarray(b, dtype=np.float64) for b in codebooks]
    )
    keep = keep_cols or []
    fields = [corpus.schema[id_col]] + [corpus.schema[c] for c in keep]
    out_schema = T.StructType(fields + [T.StructField("codes", T.BinaryType())])

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = bc.value
        for pdf in batches:
            mask = pdf[emb_col].notna().to_numpy()
            if not mask.any():
                continue
            sub_pdf = pdf[mask]
            mat = _as_matrix(sub_pdf[emb_col])
            codes = np.empty((len(mat), m), dtype=np.uint8)
            for j, (lo, hi) in enumerate(bounds):
                sub = mat[:, lo:hi]
                cent = books[j]
                d = (
                    (sub**2).sum(1)[:, None]
                    - 2.0 * sub @ cent.T
                    + (cent**2).sum(1)[None, :]
                )
                codes[:, j] = d.argmin(1)
            out = {id_col: sub_pdf[id_col].to_numpy()}
            for c in keep:
                out[c] = sub_pdf[c].to_numpy()
            out["codes"] = [c.tobytes() for c in codes]
            yield pd.DataFrame(out)

    return corpus.select(id_col, emb_col, *keep).mapInPandas(_encode, out_schema)


def _query_luts(
    qmat: np.ndarray, books: list[np.ndarray], bounds, metric: str
) -> np.ndarray:
    """(nq, m, ksub) partial-distance lookup tables. sqeuclidean sums
    per-subspace squared distances; inner_product sums negated partial
    dots (score ordering matches ``match(metric='inner_product')``)."""
    nq, m, ksub = qmat.shape[0], len(books), books[0].shape[0]
    lut = np.empty((nq, m, ksub), dtype=np.float64)
    for j, (lo, hi) in enumerate(bounds):
        qs = qmat[:, lo:hi]
        cent = books[j]
        if metric == "inner_product":
            lut[:, j, :] = -(qs @ cent.T)
        else:
            lut[:, j, :] = (
                (qs**2).sum(1)[:, None]
                - 2.0 * qs @ cent.T
                + (cent**2).sum(1)[None, :]
            )
    return lut


def _adc_scores(lut: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """(nq, b) ADC distances: m table lookups per (query, code)."""
    nq, m, _ = lut.shape
    d = lut[:, 0, :][:, codes[:, 0]]
    for j in range(1, m):
        d = d + lut[:, j, :][:, codes[:, j]]
    return d


_PQ_METRICS = ("sqeuclidean", "euclidean", "inner_product")


def pq_match(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    metric: str = "sqeuclidean",
    corpus_id_col: str = "id",
    query_id_col: str = "id",
    query_emb_col: str = "embedding",
    codes_col: str = "codes",
    round_scores: int | None = None,
    max_query_rows: int = _MAX_QUERY_ROWS,
    rerank_corpus: DataFrame | None = None,
    rerank_factor: int = 4,
    rerank_emb_col: str = "embedding",
) -> DataFrame:
    """ADC top-k over a PQ-encoded corpus → (query_id, match_id, rank,
    score, metric_name). Same bounded-broadcast-queries + per-partition
    top-k + window-merge shape as ``operators/match.py``; the scan reads
    the ``codes`` BINARY column only (m bytes/row), never raw vectors.
    Scores are the ADC *approximations* of the metric — rank fidelity is
    what PQ promises; recall floors are pinned in tests.

    ``rerank_corpus``: two-stage refine (FAISS's ``...,Refine`` /
    IVFPQR pattern): the ADC pass shortlists ``k × rerank_factor``
    candidates per query from codes alone, then ONLY those rows join back
    to the raw vectors for exact distances and the final k. The expensive
    column is read for ``k·factor·queries`` rows instead of the corpus —
    recall of the exact metric at a fraction of the raw-vector IO; scores
    become exact, not ADC."""
    if metric not in _PQ_METRICS:
        raise ValueError(f"pq_match supports {_PQ_METRICS}, got {metric!r}")
    if rerank_corpus is not None:
        shortlist = pq_match(
            encoded, queries, codebooks, k=k * rerank_factor, metric=metric,
            corpus_id_col=corpus_id_col, query_id_col=query_id_col,
            query_emb_col=query_emb_col, codes_col=codes_col,
            max_query_rows=max_query_rows,
        ).select("query_id", "match_id")
        return _exact_rerank(
            shortlist, queries, rerank_corpus, k, metric,
            corpus_id_col, query_id_col, query_emb_col, rerank_emb_col,
            round_scores,
        )
    qrows = (
        queries.select(query_id_col, query_emb_col)
        .dropna()
        .limit(max_query_rows + 1)
        .collect()
    )
    if not qrows:
        raise ValueError("queries side is empty")
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"pq_match broadcasts the query side (> {max_query_rows} rows)"
        )
    qids = [r[0] for r in qrows]
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    m = len(codebooks)
    dim = sum(len(b[0]) for b in codebooks)
    bounds = _subspace_bounds(dim, m)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    base_metric = "sqeuclidean" if metric == "euclidean" else metric
    lut = _query_luts(qmat, books, bounds, base_metric)

    spark = encoded.sparkSession
    bc = spark.sparkContext.broadcast((qids, lut))
    corpus_id_type = encoded.schema[corpus_id_col].dataType
    query_id_type = queries.schema[query_id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", query_id_type),
            T.StructField("match_id", corpus_id_type),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def _partition_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # PQ scores tie structurally (equal codes → equal ADC distance), so
        # partition pruning keeps EVERYTHING at or below the k-th score —
        # dropping an arbitrary member of a boundary tie here would make
        # the global result depend on partitioning. The window merge
        # enforces the final k with its deterministic tie-break.
        q_ids, q_lut = bc.value
        qarr = np.asarray(q_ids, dtype=object)
        acc_q: list[np.ndarray] = []
        acc_s: list[np.ndarray] = []
        acc_i: list[np.ndarray] = []
        for pdf in batches:
            mask = pdf[codes_col].notna().to_numpy()
            if not mask.any():
                continue
            ids = pdf[corpus_id_col].to_numpy()[mask]
            codes = np.frombuffer(
                b"".join(pdf[codes_col][mask]), dtype=np.uint8
            ).reshape(-1, m)
            d = _adc_scores(q_lut, codes)
            qi, ci = topk_keep(d, k)
            acc_q.append(qi)
            acc_s.append(d[qi, ci])
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

    cand = encoded.select(corpus_id_col, codes_col).mapInPandas(
        _partition_topk, out_schema
    )
    return _rank_and_project(cand, k, metric, round_scores)


def _exact_rerank(
    shortlist: DataFrame,
    queries: DataFrame,
    rerank_corpus: DataFrame,
    k: int,
    metric: str,
    corpus_id_col: str,
    query_id_col: str,
    query_emb_col: str,
    rerank_emb_col: str,
    round_scores: int | None,
) -> DataFrame:
    """Two-stage refine shared by the quantized matchers (FAISS's
    ``...,Refine`` / IVFPQR pattern): the quantized pass shortlists
    ``k·factor`` (query_id, match_id) pairs; ONLY those rows join back to
    the raw vectors for exact distances and the final k. The shortlist
    broadcasts against the raw corpus — the corpus never shuffles for a
    ``k·factor·queries``-row probe; scores become exact, not quantized."""
    from docarray_spark.functions.distance import sqeuclidean_distance_col

    emb_d = F.expr(f"transform({rerank_emb_col}, x -> cast(x as double))")
    raw = rerank_corpus.select(
        F.col(corpus_id_col).alias("match_id"), emb_d.alias("_cv")
    )
    qdf = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.expr(f"transform({query_emb_col}, x -> cast(x as double))").alias("_qv"),
    )
    if metric == "inner_product":
        dist = -F.aggregate(
            F.zip_with("_qv", "_cv", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    else:
        dist = sqeuclidean_distance_col(F.col("_qv"), F.col("_cv"))
    scored = (
        raw.join(F.broadcast(shortlist), "match_id")
        .join(F.broadcast(qdf), "query_id")
        .select("query_id", "match_id", dist.alias("score"))
    )
    return _rank_and_project(scored, k, metric, round_scores)


def _rank_and_project(
    cand: DataFrame, k: int, metric: str, round_scores: int | None
) -> DataFrame:
    """Shared top-k rank + output projection for the PQ matchers.

    PQ scores TIE STRUCTURALLY — every corpus row sharing a code word
    combination gets the identical ADC distance — so when the caller asks
    for rounded scores the rank is computed over the ROUNDED score (then
    match_id): last-ulp float-summation-order noise between equal-coded
    rows would otherwise permute tied ranks across engines/runs."""
    rank_score = (
        F.round(F.col("score"), round_scores)
        if round_scores is not None
        else F.col("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        rank_score.asc(), F.col("match_id").asc()
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


def ivfpq_match(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 256,
    metric: str = "sqeuclidean",
    corpus_id_col: str = "id",
    query_id_col: str = "id",
    emb_col: str = "embedding",
    sample: int = 16384,
    n_iter: int = 10,
    round_scores: int | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    encoded: DataFrame | None = None,
    max_query_rows: int = _MAX_QUERY_ROWS,
    rerank_corpus: DataFrame | None = None,
    rerank_factor: int = 4,
    rerank_emb_col: str = "embedding",
) -> DataFrame:
    """IVF + PQ (FAISS's ``IVFx,PQy`` with ``by_residual=False``): the
    corpus is coarse-quantized into ``n_cells`` (``ann.ivf_index``) and
    PQ-encoded once; each query probes its ``n_probe`` nearest cells and
    ADC-scans only those cells' codes. Candidate volume drops by
    ~``n_probe/n_cells`` on top of PQ's byte compression — the combination
    is the standard billion-scale layout (codes partitioned BY cell on
    disk → partition-pruned scans).

    ``encoded``: a previously built ``(id, cell, codes)`` table (e.g. read
    back from a ``partitionBy('cell')`` parquet store) — requires
    ``codebooks`` and ``centroids`` from the same build and skips the
    assign/train/encode work entirely, which at 5M×128-d is ~95% of a
    cold call. This is the serving path; the all-arguments form is the
    build-and-query convenience.

    Non-residual encoding keeps one global codebook (joinable, simple);
    residual refinement is a documented non-goal — recall at equal probes
    is slightly below FAISS's residual IVFPQ, and the tests pin the floor
    that this variant actually delivers.

    ``rerank_corpus``: same two-stage exact refine as ``pq_match`` — on
    clustered corpora ADC distances tie structurally inside a cluster
    (the r6 1M×128 frontier: recall@10 0.10 raw vs 1.00 with factor-8
    rerank), so the rerank is the SERVING configuration, not a luxury."""
    from docarray_spark.operators.ann import ivf_index

    if rerank_corpus is not None:
        shortlist = ivfpq_match(
            corpus, queries, k=k * rerank_factor, n_cells=n_cells,
            n_probe=n_probe, m=m, ksub=ksub, metric=metric,
            corpus_id_col=corpus_id_col, query_id_col=query_id_col,
            emb_col=emb_col, sample=sample, n_iter=n_iter,
            centroids=centroids, codebooks=codebooks, encoded=encoded,
            max_query_rows=max_query_rows,
        ).select("query_id", "match_id")
        return _exact_rerank(
            shortlist, queries, rerank_corpus, k, metric,
            corpus_id_col, query_id_col, emb_col, rerank_emb_col,
            round_scores,
        )

    if encoded is not None:
        if codebooks is None or centroids is None:
            raise ValueError(
                "ivfpq_match(encoded=...) needs the codebooks and centroids "
                "the store was built with"
            )
        spark_ = corpus.sparkSession
        cents_sorted = sorted((int(c), [float(x) for x in v]) for c, v in centroids)
        from docarray_spark.functions.localexec import local_table

        cent = local_table(
            spark_, cents_sorted, "cell int, centroid array<double>"
        )
    else:
        cent, assigned = ivf_index(
            corpus, n_cells, corpus_id_col, emb_col, centroids
        )
        if codebooks is None:
            codebooks = pq_train(
                corpus, m=m, ksub=ksub, id_col=corpus_id_col, emb_col=emb_col,
                sample=sample, n_iter=n_iter,
            )
        # assigned is (cell, id, v<double>) — encode once, cell rides along
        encoded = pq_encode(
            assigned, codebooks, id_col="id", emb_col="v", keep_cols=["cell"]
        )

    qrows = (
        queries.select(query_id_col, emb_col)
        .dropna()
        .limit(max_query_rows + 1)
        .collect()
    )
    if not qrows:
        raise ValueError("queries side is empty")
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"ivfpq_match broadcasts the query side (> {max_query_rows} rows)"
        )
    qids = [r[0] for r in qrows]
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    mm = len(codebooks)
    dim = sum(len(b[0]) for b in codebooks)
    bounds = _subspace_bounds(dim, mm)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    base_metric = "sqeuclidean" if metric == "euclidean" else metric
    if base_metric not in _PQ_METRICS:
        raise ValueError(f"ivfpq_match supports {_PQ_METRICS}, got {metric!r}")
    lut = _query_luts(qmat, books, bounds, base_metric)

    # probe assignment on the driver: n_cells is small (the same bounded
    # state as ivf_index's centroid collect)
    cent_rows = sorted(cent.collect(), key=lambda r: r.cell)
    cmat = np.asarray([r.centroid for r in cent_rows], dtype=np.float64)
    dcell = (
        (qmat**2).sum(1)[:, None] - 2.0 * qmat @ cmat.T + (cmat**2).sum(1)[None, :]
    )
    order = np.argsort(dcell, axis=1, kind="stable")[:, :n_probe]
    probe_cells = {qid: {int(c) for c in order[i]} for i, qid in enumerate(qids)}

    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((qids, lut, probe_cells))
    corpus_id_type = corpus.schema[corpus_id_col].dataType
    query_id_type = queries.schema[query_id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", query_id_type),
            T.StructField("match_id", corpus_id_type),
            T.StructField("score", T.DoubleType()),
        ]
    )
    # prune partitions/rows to the union of probed cells BEFORE the scan —
    # on a cell-partitioned store this becomes partition pruning
    all_cells = sorted({c for s in probe_cells.values() for c in s})
    pruned = encoded.filter(F.col("cell").isin(all_cells))

    def _partition_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids, q_lut, q_cells = bc.value
        qarr = np.asarray(q_ids, dtype=object)
        acc_q: list[np.ndarray] = []
        acc_s: list[np.ndarray] = []
        acc_i: list[np.ndarray] = []
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["id"].to_numpy()
            cells = pdf["cell"].to_numpy()
            codes = np.frombuffer(b"".join(pdf["codes"]), dtype=np.uint8).reshape(
                -1, mm
            )
            for i, qid in enumerate(q_ids):
                sel = np.isin(cells, list(q_cells[qid]))
                if not sel.any():
                    continue
                d = _adc_scores(q_lut[i : i + 1], codes[sel])
                # keep boundary TIES (equal codes → equal scores): see
                # pq_match — partition pruning must not arbitrate ties
                _, ci = topk_keep(d, k)
                acc_q.append(np.full(len(ci), i))
                acc_s.append(d[0, ci])
                acc_i.append(ids[sel][ci])
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

    cand = pruned.select("id", "cell", "codes").mapInPandas(
        _partition_topk, out_schema
    )
    return _rank_and_project(cand, k, metric, round_scores)


# --------------------------------------------------- scalar quantization

def sq_train(
    corpus: DataFrame,
    id_col: str = "id",
    emb_col: str = "embedding",
) -> tuple[list[float], list[float]]:
    """Train an SQ8 scalar quantizer (FAISS's ``SQ8``): per-dimension
    (min, max) bounds → each dimension encodes to one uint8. The middle
    rung of the compression ladder — 8× vs float64 (4× vs float32) with
    ~1/255-of-range per-dim error, where PQ's m-bytes-per-VECTOR trades
    much more resolution for much more compression.

    Bounds come from per-partition numpy partials (one (mins, maxs) row
    per partition) reduced on the driver — min/max are order-independent,
    so the result is deterministic under any partitioning, and the driver
    state is ``partitions × 2d`` floats, never rows."""
    import pandas as pd  # noqa: F811 (worker-side import parity)

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mn = mx = None
        for pdf in batches:
            col = pdf[emb_col]
            mask = col.notna().to_numpy()
            if not mask.any():
                continue
            mat = np.asarray([np.asarray(e, dtype=np.float64) for e in col[mask]])
            bmn, bmx = mat.min(axis=0), mat.max(axis=0)
            mn = bmn if mn is None else np.minimum(mn, bmn)
            mx = bmx if mx is None else np.maximum(mx, bmx)
        if mn is not None:
            yield pd.DataFrame({"mins": [list(mn)], "maxs": [list(mx)]})

    parts = (
        corpus.select(emb_col)
        .mapInPandas(_partial, "mins array<double>, maxs array<double>")
        .collect()
    )
    if not parts:
        raise ValueError("sq_train: corpus is empty")
    mins = np.min([r.mins for r in parts], axis=0)
    maxs = np.max([r.maxs for r in parts], axis=0)
    return [float(x) for x in mins], [float(x) for x in maxs]


def sq_encode(
    corpus: DataFrame,
    bounds: tuple[list[float], list[float]],
    id_col: str = "id",
    emb_col: str = "embedding",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """→ (id[, keep_cols...], codes BINARY): one uint8 per dimension,
    ``round((v - min) / (max - min) * 255)`` clipped to [0, 255] (values
    outside the trained bounds saturate). Map-only Arrow pass."""
    mins = np.asarray(bounds[0], dtype=np.float64)
    maxs = np.asarray(bounds[1], dtype=np.float64)
    span = np.where(maxs > mins, maxs - mins, 1.0)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((mins, span))
    keep = keep_cols or []
    fields = [corpus.schema[id_col]] + [corpus.schema[c] for c in keep]
    out_schema = T.StructType(fields + [T.StructField("codes", T.BinaryType())])

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_mins, b_span = bc.value
        for pdf in batches:
            mask = pdf[emb_col].notna().to_numpy()
            if not mask.any():
                continue
            sub = pdf[mask]
            mat = np.asarray([np.asarray(e, dtype=np.float64) for e in sub[emb_col]])
            codes = np.clip(
                np.rint((mat - b_mins) / b_span * 255.0), 0, 255
            ).astype(np.uint8)
            out = {id_col: sub[id_col].to_numpy()}
            for c in keep:
                out[c] = sub[c].to_numpy()
            out["codes"] = [c.tobytes() for c in codes]
            yield pd.DataFrame(out)

    return corpus.select(id_col, emb_col, *keep).mapInPandas(_encode, out_schema)


def sq_match(
    encoded: DataFrame,
    queries: DataFrame,
    bounds: tuple[list[float], list[float]],
    k: int = 10,
    metric: str = "sqeuclidean",
    corpus_id_col: str = "id",
    query_id_col: str = "id",
    query_emb_col: str = "embedding",
    codes_col: str = "codes",
    round_scores: int | None = None,
    max_query_rows: int = _MAX_QUERY_ROWS,
    rerank_corpus: DataFrame | None = None,
    rerank_factor: int = 4,
    rerank_emb_col: str = "embedding",
) -> DataFrame:
    """Top-k over an SQ8-encoded corpus: dequantize each batch in numpy
    (``min + code·span/255``) and score against the broadcast queries —
    brute force over 1-byte-per-dim reconstructions, so recall is near
    the exact operator's at 1/8 the scan bytes. Same partition-top-k +
    window-merge shape as ``pq_match``; ``rerank_corpus`` upgrades the
    shortlist to exact raw-vector scores exactly like ``pq_match``'s."""
    if metric not in _PQ_METRICS:
        raise ValueError(f"sq_match supports {_PQ_METRICS}, got {metric!r}")
    if rerank_corpus is not None:
        shortlist = sq_match(
            encoded, queries, bounds, k=k * rerank_factor, metric=metric,
            corpus_id_col=corpus_id_col, query_id_col=query_id_col,
            query_emb_col=query_emb_col, codes_col=codes_col,
            max_query_rows=max_query_rows,
        ).select("query_id", "match_id")
        from docarray_spark.functions.distance import sqeuclidean_distance_col

        emb_d = F.expr(f"transform({rerank_emb_col}, x -> cast(x as double))")
        raw = rerank_corpus.select(
            F.col(corpus_id_col).alias("match_id"), emb_d.alias("_cv")
        )
        qdf = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.expr(f"transform({query_emb_col}, x -> cast(x as double))").alias("_qv"),
        )
        if metric == "inner_product":
            dist = -F.aggregate(
                F.zip_with("_qv", "_cv", lambda a, b: a * b),
                F.lit(0.0), lambda acc, x: acc + x,
            )
        else:
            dist = sqeuclidean_distance_col(F.col("_qv"), F.col("_cv"))
        scored = (
            raw.join(F.broadcast(shortlist), "match_id")
            .join(F.broadcast(qdf), "query_id")
            .select("query_id", "match_id", dist.alias("score"))
        )
        return _rank_and_project(scored, k, metric, round_scores)

    qrows = (
        queries.select(query_id_col, query_emb_col)
        .dropna()
        .limit(max_query_rows + 1)
        .collect()
    )
    if not qrows:
        raise ValueError("queries side is empty")
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"sq_match broadcasts the query side (> {max_query_rows} rows)"
        )
    qids = [r[0] for r in qrows]
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    mins = np.asarray(bounds[0], dtype=np.float64)
    maxs = np.asarray(bounds[1], dtype=np.float64)
    scale = np.where(maxs > mins, maxs - mins, 1.0) / 255.0
    d_dim = len(mins)

    spark = encoded.sparkSession
    bc = spark.sparkContext.broadcast((qids, qmat, mins, scale))
    corpus_id_type = encoded.schema[corpus_id_col].dataType
    query_id_type = queries.schema[query_id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", query_id_type),
            T.StructField("match_id", corpus_id_type),
            T.StructField("score", T.DoubleType()),
        ]
    )
    met = "sqeuclidean" if metric == "euclidean" else metric

    def _partition_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # SQ scores tie structurally just like PQ (equal uint8 codes decode
        # to the identical vector), so partition pruning keeps EVERYTHING
        # at or below the k-th score — same tie-retention as pq_match's
        # _partition_topk, else results vary with partitioning when ties
        # straddle the k-th score (ADVICE r5). The window merge enforces
        # the final k with its deterministic tie-break.
        q_ids, q_mat, b_mins, b_scale = bc.value
        qarr = np.asarray(q_ids, dtype=object)
        acc_q: list[np.ndarray] = []
        acc_s: list[np.ndarray] = []
        acc_i: list[np.ndarray] = []
        for pdf in batches:
            mask = pdf[codes_col].notna().to_numpy()
            if not mask.any():
                continue
            ids = pdf[corpus_id_col].to_numpy()[mask]
            mat = (
                np.frombuffer(b"".join(pdf[codes_col][mask]), dtype=np.uint8)
                .reshape(-1, d_dim)
                .astype(np.float64)
                * b_scale
                + b_mins
            )
            if met == "inner_product":
                d = -(q_mat @ mat.T)
            else:
                d = (
                    (q_mat**2).sum(1)[:, None]
                    - 2.0 * q_mat @ mat.T
                    + (mat**2).sum(1)[None, :]
                )
            qi, ci = topk_keep(d, k)
            acc_q.append(qi)
            acc_s.append(d[qi, ci])
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

    cand = encoded.select(corpus_id_col, codes_col).mapInPandas(
        _partition_topk, out_schema
    )
    return _rank_and_project(cand, k, metric, round_scores)
