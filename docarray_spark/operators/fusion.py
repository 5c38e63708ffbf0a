"""Rank/score fusion for hybrid retrieval (text BM25 + vector kNN).

The reference exposes lexical search (``find(str)`` →
``/root/reference/docarray/storage/elastic/find.py:74-114``) and vector
search (``find(ndarray)`` → ``storage/memory/find.py:92-181``) as separate
calls; combining them is left to the caller. At corpus scale the fusion
itself must be an engine operator — the per-modality top-k lists are tiny
(queries × k rows), so fusion is a broadcast-sized aggregate, never a
corpus shuffle: run each modality's distributed top-k, then fuse the
rank lists.

Two standard fusers, both deterministic across engines (and therefore
oracle-replayable in ANSI SQL):

- :func:`rrf_fuse` — Reciprocal Rank Fusion (Cormack/Clarke/Buettcher,
  SIGIR 2009): ``score(d) = Σ_lists w_l / (k0 + rank_l(d))``. Rank-only,
  so it composes lists whose raw scores live on different scales without
  normalization. With two lists the per-doc sum has at most two IEEE
  addends — bit-identical in any engine regardless of aggregation order.
- :func:`minmax_fuse` — per-query min-max score normalization to [0, 1]
  then a weighted sum (the classic CombSUM on normalized scores). Callers
  should pre-round the input scores (``round_to`` on the producing
  operators) so last-ulp jitter in upstream distributed sums can't flip
  fused ranks between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _tagged_union(
    lists: list[DataFrame],
    query_col: str,
    id_col: str,
    cols: list[str],
) -> DataFrame:
    out = None
    for i, df in enumerate(lists):
        part = df.select(
            F.lit(i).alias("_list"),
            F.col(query_col).alias("_qid"),
            F.col(id_col).alias("_mid"),
            *cols,
        )
        out = part if out is None else out.unionByName(part)
    if out is None:
        raise ValueError("no ranked lists to fuse")
    return out


def rrf_fuse(
    lists: list[DataFrame],
    query_col: str = "query_id",
    id_col: str = "match_id",
    rank_col: str = "rank",
    k0: int = 60,
    k: int | None = 10,
    weights: list[float] | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Reciprocal Rank Fusion over per-query ranked lists.

    Each input carries ``(query_col, id_col, rank_col)`` with rank 1 =
    best. Returns ``(query_col, id_col, score, rank)`` — fused score
    descending, deterministic id tie-break. A document absent from a list
    simply contributes no term for it (standard RRF).

    Scale shape: inputs are top-k lists (``n_queries × k`` rows each), so
    the whole fusion — union, groupBy, window — runs on broadcast-sized
    data no matter the corpus size; the heavy lifting stayed in the
    per-modality operators.
    """
    if weights is not None and len(weights) != len(lists):
        raise ValueError(f"{len(weights)} weights for {len(lists)} lists")
    u = _tagged_union(lists, query_col, id_col, [F.col(rank_col).alias("_r")])
    if weights is None:
        contrib = F.lit(1.0) / (F.lit(float(k0)) + F.col("_r"))
    else:
        wmap = F.array(*[F.lit(float(w)) for w in weights])
        contrib = wmap[F.col("_list")] / (F.lit(float(k0)) + F.col("_r"))
    return _rank_fused(u, contrib, query_col, id_col, k, round_to)


def minmax_fuse(
    lists: list[DataFrame],
    weights: list[float],
    query_col: str = "query_id",
    id_col: str = "match_id",
    score_col: str = "score",
    higher_is_better: list[bool] | None = None,
    k: int | None = 10,
    eps: float = 1e-7,
    round_to: int | None = None,
) -> DataFrame:
    """Weighted sum of per-query min-max-normalized scores (CombSUM).

    Each list's score is normalized to [0, 1] within its (list, query)
    group: ``(s - min) / (max - min + eps)``; lists flagged
    ``higher_is_better=False`` (distances) are flipped to ``1 - norm`` so
    1 is always best. A document missing from a list contributes 0 for it.
    Returns ``(query_col, id_col, score, rank)``.

    Determinism contract: feed pre-rounded scores (the producing
    operators' ``round_to``/``round_scores``) — normalization and the
    ≤len(lists)-addend weighted sum are then bit-stable across engines.
    """
    if len(weights) != len(lists):
        raise ValueError(f"{len(weights)} weights for {len(lists)} lists")
    hib = higher_is_better or [True] * len(lists)
    if len(hib) != len(lists):
        raise ValueError(f"{len(hib)} higher_is_better flags for {len(lists)} lists")
    u = _tagged_union(lists, query_col, id_col, [F.col(score_col).alias("_s")])
    grp = Window.partitionBy("_list", "_qid")
    norm = (F.col("_s") - F.min("_s").over(grp)) / (
        F.max("_s").over(grp) - F.min("_s").over(grp) + F.lit(eps)
    )
    flip = F.array(*[F.lit(bool(h)) for h in hib])
    wmap = F.array(*[F.lit(float(w)) for w in weights])
    contrib = wmap[F.col("_list")] * F.when(
        flip[F.col("_list")], norm
    ).otherwise(F.lit(1.0) - norm)
    return _rank_fused(u, contrib, query_col, id_col, k, round_to)


def _rank_fused(
    u: DataFrame,
    contrib,
    query_col: str,
    id_col: str,
    k: int | None,
    round_to: int | None,
) -> DataFrame:
    """Shared fusion tail: sum per-(query, doc) contributions, rank with
    the deterministic id tie-break, slice to k, round for output (rank is
    computed on the RAW fused score — rounding is presentation only,
    mirroring the modality operators)."""
    fused = (
        u.withColumn("_c", contrib)
        .groupBy("_qid", "_mid")
        .agg(F.sum("_c").alias("score"))
    )
    w = Window.partitionBy("_qid").orderBy(F.col("score").desc(), F.col("_mid").asc())
    out = fused.withColumn("rank", F.row_number().over(w))
    if k is not None:
        out = out.filter(F.col("rank") <= k)
    score = F.round("score", round_to) if round_to is not None else F.col("score")
    return out.select(
        F.col("_qid").alias(query_col),
        F.col("_mid").alias(id_col),
        score.alias("score"),
        "rank",
    )


def mmr_rerank(
    candidates: DataFrame,
    embeddings: DataFrame,
    k: int = 10,
    lam: float = 0.5,
    query_col: str = "query_id",
    id_col: str = "match_id",
    rel_col: str = "rel",
    emb_id_col: str = "id",
    emb_col: str = "embedding",
    round_to: int = 6,
    on_missing: str = "error",
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein, SIGIR
    1998): greedily pick ``k`` results per query trading relevance
    against redundancy —

        pick_t = argmax_d  λ·rel(d) − (1−λ)·max_{s∈selected} cos_sim(d, s)

    over a per-query CANDIDATE list (the first pick maximizes ``rel``
    alone; the diversity term is 0 ONLY while nothing is selected —
    afterwards it is the TRUE max similarity to the selected set, which
    can be NEGATIVE in real embedding spaces, making anti-correlated
    candidates MORE attractive, exactly as Carbonell & Goldstein define
    it). Returns ``(query_col, id_col, score, rank)`` where ``rank`` is
    the PICK ORDER (1 = first selected) and ``score`` the pick's MMR
    value.

    Scale shape: this is a post-top-k rerank — ``candidates`` is
    queries × fetch_k rows, so the embedding join broadcasts the
    candidate side into the corpus scan and the greedy loop runs on tiny
    per-query Arrow groups (``applyInArrow``), never corpus-sized.
    A candidate whose embedding is NULL, holds a NULL element or differs
    in length from the group's first counts as missing.

    Determinism contract (SQL-oracle-able at fixed k, unlike open-ended
    greedy selection): ``rel`` and every pairwise similarity are rounded
    to ``round_to`` before compares; argmax ties break on ascending id;
    λ should be an exact dyadic double (0.5, 0.25, …) if an external
    engine must replay the arithmetic bit-for-bit.

    Candidates must be drawn from the embedding corpus (the normal case —
    they came out of a retrieval over it). The fetch is an INNER broadcast
    join, so a candidate id with no embedding row cannot be ranked;
    ``on_missing='error'`` (default) detects the loss per query — each
    group carries its expected candidate count, and one null-embedding
    sentinel row per query rides the same broadcast-sized plan so a query
    whose EVERY candidate is missing still reaches its pandas group
    instead of being dropped whole by the inner join — and raises instead
    of silently returning a list the best candidate (or an entire query)
    may have vanished from; ``'drop'`` makes the exclusion explicit."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from docarray_spark.functions.vectors import as_matrix, unit_rows

    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if on_missing not in ("error", "drop"):
        raise ValueError(f"on_missing must be 'error' or 'drop', got {on_missing!r}")
    nq_w = Window.partitionBy(F.col(query_col))
    cand = candidates.select(
        F.col(query_col).alias("_qid"),
        F.col(id_col).alias("_mid"),
        F.round(F.col(rel_col), round_to).alias("_rel"),
        F.count(F.lit(1)).over(nq_w).alias("_nq"),
    )
    joined = embeddings.select(
        F.col(emb_id_col).alias("_mid"),
        F.transform(F.col(emb_col), lambda x: x.cast("double")).alias("_v"),
    ).join(F.broadcast(cand), "_mid")
    qid_type = candidates.schema[query_col].dataType
    mid_type = candidates.schema[id_col].dataType
    if on_missing == "error":
        # broadcast-hash joins can't preserve the small side in Spark
        # (right-outer builds left), so an all-missing query would vanish
        # from the inner join with no group to raise in. One sentinel row
        # per query (null embedding, filtered out before the greedy loop)
        # guarantees every query reaches _mmr; it adds a groupBy over the
        # already-broadcast-sized candidate list, nothing corpus-scale.
        sentinel = cand.groupBy("_qid").agg(F.max("_nq").alias("_nq")).select(
            F.lit(None).cast(mid_type).alias("_mid"),
            "_qid",
            F.lit(None).cast("double").alias("_rel"),
            "_nq",
            F.lit(None).cast("array<double>").alias("_v"),
        )
        joined = joined.unionByName(sentinel)
    out_schema = T.StructType([
        T.StructField("_qid", qid_type),
        T.StructField("_mid", mid_type),
        T.StructField("score", T.DoubleType()),
        T.StructField("rank", T.IntegerType()),
    ])

    arrow_schema = to_arrow_schema(out_schema)

    def _mmr(tbl):
        X, valid = as_matrix(tbl.column("_v"))
        pdf = tbl.drop_columns(["_v"]).to_pandas()  # scalar columns only
        nq = int(pdf["_nq"].iloc[0])
        qid = pdf["_qid"].iloc[0]
        pdf = pdf.assign(_row=np.arange(len(pdf)))[valid]  # drops the sentinel
        if on_missing == "error" and len(pdf) != nq:
            raise ValueError(
                f"mmr_rerank: query {qid!r} has {nq} candidates but only "
                f"{len(pdf)} embedding rows — candidate ids missing from "
                "the embedding corpus would silently vanish from the "
                "reranked list; fix the id spaces or pass on_missing='drop'"
            )
        if len(pdf) == 0:
            return arrow_schema.empty_table()
        pdf = pdf.sort_values("_mid", ignore_index=True)  # id tie-break:
        # np.argmax returns the FIRST max, which is the smallest id here
        rel = pdf["_rel"].to_numpy(dtype=np.float64)
        Xn = unit_rows(X[pdf["_row"].to_numpy()])
        n = len(pdf)
        picked: list[int] = []
        scores: list[float] = []
        avail = np.ones(n, dtype=bool)
        # -inf = "nothing selected yet": the diversity term is 0 only for
        # the FIRST pick; afterwards it is the true max similarity to the
        # selected set, negative included — flooring at 0 would diverge
        # from the canonical formula (and the SQL oracle, which coalesces
        # only the empty-set case) on anti-correlated candidates
        maxsim = np.full(n, -np.inf, dtype=np.float64)
        for _ in range(min(k, n)):
            div = np.where(np.isneginf(maxsim), 0.0, maxsim)
            mmr = lam * rel - (1.0 - lam) * div
            mmr = np.where(avail, mmr, -np.inf)
            i = int(np.argmax(mmr))
            picked.append(i)
            scores.append(float(mmr[i]))
            avail[i] = False
            sims = np.round(Xn @ Xn[i], round_to)
            np.maximum(maxsim, sims, out=maxsim)
        rows = pa.array(pdf["_row"].to_numpy()[picked])
        return pa.Table.from_arrays([
            tbl.column("_qid").take(rows),
            tbl.column("_mid").take(rows),
            # + 0.0: normalize IEEE -0.0 (an exactly-cancelling MMR value
            # would str-hash differently than the oracle's 0.0)
            pa.array(np.round(np.asarray(scores), round_to) + 0.0),
            pa.array(np.arange(1, len(picked) + 1, dtype=np.int32)),
        ], names=arrow_schema.names).cast(arrow_schema)

    out = joined.groupBy("_qid").applyInArrow(_mmr, out_schema)
    return out.select(
        F.col("_qid").alias(query_col),
        F.col("_mid").alias(id_col),
        "score",
        "rank",
    )


def hybrid_search(
    docs: DataFrame,
    corpus: DataFrame,
    text_queries: dict[int, str] | list[tuple[int, str]],
    query_vectors: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    on: str = "embedding",
    k: int = 10,
    fetch_k: int | None = None,
    method: str = "rrf",
    k0: int = 60,
    alpha: float = 0.5,
    metric: str = "cosine",
    query_id_col: str = "query_id",
    round_to: int = 6,
    eps: float = 0.0,
    mmr_lambda: float | None = None,
    mmr_on_missing: str = "error",
) -> DataFrame:
    """Hybrid lexical+vector retrieval: batched corpus BM25
    (:func:`~docarray_spark.operators.text.text_search_multi`) and exact
    kNN (:func:`~docarray_spark.operators.match.match`) over the same
    query ids, fused with RRF (``method='rrf'``) or weighted min-max
    (``method='wsum'``, text weight ``alpha``). ``fetch_k`` (default
    ``4*k``) is each modality's candidate depth.

    ``docs`` and ``corpus`` may be the same table or two tables sharing
    the id space (text store + embedding store). Both modality top-k's
    are distributed; the fusion runs on queries × fetch_k rows.

    ``mmr_lambda`` chains the full retrieve → fuse → diversify pipeline:
    the fused list is kept at ``fetch_k`` depth, its scores are per-query
    min-max-normalized to [0, 1] (RRF/CombSUM scores are not on the
    cosine-similarity scale MMR's diversity term uses), and
    :func:`mmr_rerank` greedily reduces it to ``k`` against the corpus
    embeddings (λ = ``mmr_lambda``; λ=1 reproduces the fused order).
    Pinned ≡ the manual three-call composition in tests. A text-ranked
    doc with no embedding row cannot be diversified — ``mmr_on_missing``
    forwards mmr_rerank's contract ('error' raises per query, 'drop'
    excludes explicitly; without the forward the raise would suggest a
    kwarg this API didn't accept, r10 review)."""
    from .match import match
    from .text import text_search_multi

    fetch_k = fetch_k or 4 * k
    text_ranks = text_search_multi(
        docs, text_queries, id_col=id_col, text_col=text_col,
        k=fetch_k, round_to=round_to,
    ).withColumnRenamed(id_col, "match_id")
    # eps defaults to 0.0 (not match()'s reference-parity 1e-7 smoothing):
    # the unsmoothed ratio is what ANSI-SQL cosine replays bit-for-bit
    vec_ranks = match(
        corpus, query_vectors, k=fetch_k, metric=metric, on=on,
        corpus_id_col=id_col, query_id_col=query_id_col,
        round_scores=round_to, eps=eps,
    ).select("query_id", "match_id", "score", "rank")
    fused = _fuse_modalities(
        text_ranks, vec_ranks, method=method,
        k=(fetch_k if mmr_lambda is not None else k), k0=k0, alpha=alpha,
        round_to=round_to,
    )
    if mmr_lambda is None:
        return fused
    return _diversify_fused(
        fused, corpus, mmr_lambda, k, id_col=id_col, emb_col=on,
        round_to=round_to, on_missing=mmr_on_missing,
    )


def _diversify_fused(
    fused: DataFrame,
    corpus: DataFrame,
    lam: float,
    k: int,
    id_col: str,
    emb_col: str,
    round_to: int,
    on_missing: str = "error",
) -> DataFrame:
    """Fused-list → MMR relevance bridge: per-query min-max normalize the
    fused score into [0, 1] (rounded, deterministic) and greedily rerank
    to ``k`` against the corpus embeddings. Runs on queries × fetch_k
    rows; the corpus contributes one broadcast-candidate join."""
    grp = Window.partitionBy("query_id")
    rel = F.round(
        (F.col("score") - F.min("score").over(grp))
        / (F.max("score").over(grp) - F.min("score").over(grp) + F.lit(1e-7)),
        round_to,
    )
    cand = fused.select("query_id", "match_id", rel.alias("rel"))
    return mmr_rerank(
        cand, corpus.select(id_col, emb_col), k=k, lam=lam,
        emb_id_col=id_col, emb_col=emb_col, round_to=round_to,
        on_missing=on_missing,
    )


def _fuse_modalities(
    text_ranks: DataFrame,
    vec_ranks: DataFrame,
    method: str,
    k: int,
    k0: int,
    alpha: float,
    round_to: int,
) -> DataFrame:
    if method == "rrf":
        return rrf_fuse(
            [text_ranks, vec_ranks], k0=k0, k=k, round_to=round_to + 3
        )
    if method == "wsum":
        return minmax_fuse(
            [text_ranks, vec_ranks],
            weights=[alpha, 1.0 - alpha],
            higher_is_better=[True, False],  # BM25 score vs distance
            k=k,
            round_to=round_to,
        )
    raise ValueError(f"unknown fusion method {method!r} (rrf|wsum)")


def hybrid_search_stored(
    spark,
    text_index_path: str,
    query_texts: list[str],
    query_vectors,
    vector_index_path: str | None = None,
    vector_backend: str = "hnsw",
    corpus: DataFrame | None = None,
    id_col: str = "id",
    k: int = 10,
    fetch_k: int | None = None,
    method: str = "rrf",
    k0: int = 60,
    alpha: float = 0.5,
    round_to: int = 6,
    mmr_lambda: float | None = None,
    mmr_on_missing: str = "error",
    mmr_corpus: DataFrame | None = None,
    mmr_emb_col: str = "embedding",
    embeddings: DataFrame | None = None,
    **vector_kwargs,
) -> DataFrame:
    """Hybrid retrieval served entirely from MAINTAINED indexes: the text
    side is one batched :func:`~docarray_spark.operators.index_store.
    bm25_match_stored` call against a ``bm25_refresh``-maintained index
    (one postings slice for the union of all queries' terms), the vector
    side is :func:`~docarray_spark.operators.match.find_by_vectors`
    against a stored ANN backend (``hnsw``/``sq8``/``pq``/``ivfpq`` with
    ``vector_index_path``, quantizers loaded from the store's sidecar) —
    the serving-path form of :func:`hybrid_search`, for when the corpus
    lives behind the CRUD store and neither modality should re-scan it.

    ``query_texts[i]`` pairs with ``query_vectors[i]`` (both sides tag
    results with the list position as ``query_id``). With a pure stored
    serve ``corpus`` can be omitted.

    ``embeddings`` is the ONE raw-vector knob (VERDICT r11 #4): an
    ``(id, embedding)`` table — e.g. the embedding store the indexes
    were refreshed from — that feeds every stage needing raw vectors,
    because the stored backends themselves hold graphs/codes, not
    vectors. It defaults the quantized backends' exact-rerank corpus
    (``rerank_corpus`` for ``pq``/``ivfpq``/``sq8``) and the MMR
    diversifier's candidate table; an explicit ``rerank_corpus=`` (via
    ``vector_kwargs``) or ``mmr_corpus=`` still overrides it per-stage.

    Fusion is rank-based (``rrf``, default) or score-normalized
    (``wsum``) — rrf composes the stored backends' heterogeneous score
    scales (BM25 vs ADC sqeuclidean vs graph cosine) without caring.

    ``mmr_lambda`` chains retrieve → fuse → diversify exactly like the
    corpus path (:func:`hybrid_search`): the fused list is kept at
    ``fetch_k`` depth, per-query min-max normalized, and MMR-reranked to
    ``k``. Diversification needs RAW embeddings, which the stored ANN
    backends do not expose (HNSW stores pickled graphs, PQ/SQ8 store
    codes) — the candidate table resolves ``mmr_corpus`` →
    ``embeddings`` → ``corpus``, first non-None wins. One broadcast
    candidate join against it per call (queries × fetch_k rows), never a
    corpus scan."""
    from .index_store import bm25_match_stored
    from .match import find_by_vectors

    if isinstance(query_texts, str):
        # list(query_texts) would silently iterate a bare string into
        # one-character "queries"
        raise TypeError("query_texts must be a list of strings, got str")
    query_texts = list(query_texts)
    import numpy as np

    qmat = np.asarray(query_vectors, dtype=float)
    if qmat.ndim == 1:
        qmat = qmat[None, :]
    if len(query_texts) != len(qmat):
        # both sides tag results with the list POSITION — a length
        # mismatch would silently fuse misaligned or single-modality rows
        raise ValueError(
            f"{len(query_texts)} query_texts but {len(qmat)} query_vectors "
            "— query_texts[i] must pair with query_vectors[i]"
        )
    if vector_backend in ("exact", "lsh", "ivf"):
        if vector_index_path is not None:
            # these backends score the corpus directly — forwarding
            # index_path would die as an opaque unexpected-keyword
            # TypeError inside match()/lsh_match()/ivf_match()
            raise ValueError(
                f"vector_backend={vector_backend!r} has no stored serving "
                "form — vector_index_path= applies only to "
                "hnsw/sq8/pq/ivfpq"
            )
        if corpus is None:
            # with the 0-row placeholder the vector list would come back
            # EMPTY and the fusion silently degrade to text-only
            raise ValueError(
                f"vector_backend={vector_backend!r} needs a corpus "
                "DataFrame (it scores the corpus directly); pass corpus=, "
                "or use a stored backend with vector_index_path="
            )
    elif corpus is None and vector_index_path is None:
        raise ValueError(
            f"vector_backend={vector_backend!r} needs vector_index_path= "
            "(stored serve) or corpus= (build inline)"
        )
    if (
        embeddings is not None
        and vector_backend in ("pq", "ivfpq", "sq8")
        and "rerank_corpus" not in vector_kwargs
    ):
        vector_kwargs["rerank_corpus"] = embeddings
    if mmr_lambda is not None:
        if mmr_corpus is None:
            mmr_corpus = embeddings if embeddings is not None else corpus
        if mmr_corpus is None:
            raise ValueError(
                "mmr_lambda= needs raw embeddings to diversify against — "
                "stored ANN backends hold graphs/codes, not vectors; pass "
                "embeddings= (an (id, embedding) table; also feeds the "
                "quantized backends' rerank), mmr_corpus=, or corpus="
            )
    fetch_k = fetch_k or 4 * k
    text_ranks = bm25_match_stored(
        spark, text_index_path, list(query_texts), id_col=id_col,
        k=fetch_k, round_to=round_to,
    ).select(
        "query_id", F.col(id_col).alias("match_id"), "score", "rank"
    )
    if corpus is None:
        # 0-row placeholder for stored backends that never read it — but
        # its id TYPE must still agree with the store's (a string-id store
        # growing a rerank path through a hardcoded-bigint placeholder
        # would type-clash, r9 review): derive it from the text index's
        # postings schema, a parquet-footer read, no job
        id_type = (
            spark.read.parquet(f"{text_index_path}/postings")
            .schema[id_col].dataType.simpleString()
        )
        corpus = spark.createDataFrame(
            [], f"{id_col} {id_type}, embedding array<float>"
        )
    if vector_index_path is not None:
        vector_kwargs["index_path"] = vector_index_path
    vec_ranks = find_by_vectors(
        corpus, qmat, k=fetch_k, backend=vector_backend,
        round_scores=round_to, **vector_kwargs,
    ).select("query_id", "match_id", "score", "rank")
    fused = _fuse_modalities(
        text_ranks, vec_ranks, method=method,
        k=(fetch_k if mmr_lambda is not None else k), k0=k0, alpha=alpha,
        round_to=round_to,
    )
    if mmr_lambda is None:
        return fused
    return _diversify_fused(
        fused, mmr_corpus, mmr_lambda, k, id_col=id_col,
        emb_col=mmr_emb_col, round_to=round_to, on_missing=mmr_on_missing,
    )
