"""Vector-search operator tests, modeled on the reference's
tests/unit/array/mixins/test_match.py / test_find.py."""

import numpy as np
import pytest

from docarray_spark.operators import match, find_by_vectors


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.RandomState(42)
    mat = rng.rand(200, 16)
    rows = [(f"d{i:03d}", [float(x) for x in mat[i]], int(i % 5)) for i in range(200)]
    df = spark.createDataFrame(rows, schema="id string, embedding array<double>, label int")
    return df, mat


@pytest.fixture(scope="module")
def queries(spark, corpus):
    _, mat = corpus
    rows = [(f"d{i:03d}", [float(x) for x in mat[i]]) for i in range(5)]  # copies of corpus
    return spark.createDataFrame(rows, schema="id string, embedding array<double>"), mat[:5]


def brute(qmat, mat, metric="cosine"):
    if metric == "cosine":
        d = 1 - (qmat @ mat.T) / np.outer(
            np.linalg.norm(qmat, axis=1), np.linalg.norm(mat, axis=1)
        )
    elif metric == "sqeuclidean":
        d = ((qmat[:, None, :] - mat[None, :, :]) ** 2).sum(-1)
    else:
        d = np.sqrt(((qmat[:, None, :] - mat[None, :, :]) ** 2).sum(-1))
    return d


def test_match_topk_order_and_values(spark, corpus, queries):
    cdf, mat = corpus
    qdf, qmat = queries
    res = match(cdf, qdf, k=10, metric="cosine", eps=0.0).toPandas()
    assert set(res.columns) == {"query_id", "match_id", "rank", "score", "metric_name"}
    assert len(res) == 5 * 10
    d = brute(qmat, mat)
    for qi in range(5):
        qid = f"d{qi:03d}"
        grp = res[res.query_id == qid].sort_values("rank")
        # scores ascending (reference test_match.py:92-96)
        assert (np.diff(grp.score.values) >= -1e-12).all()
        expected = np.sort(d[qi])[:10]
        np.testing.assert_allclose(grp.score.values, expected, atol=1e-9)
        # self-match is rank 1 with ~0 distance
        assert grp.iloc[0].match_id == qid


def test_exclude_self(spark, corpus, queries):
    cdf, _ = corpus
    qdf, _ = queries
    res = match(cdf, qdf, k=5, exclude_self=True, eps=0.0).toPandas()
    assert not ((res.query_id == res.match_id).any())
    assert len(res) == 25


@pytest.mark.parametrize("metric", ["sqeuclidean", "euclidean"])
def test_other_metrics(spark, corpus, queries, metric):
    cdf, mat = corpus
    qdf, qmat = queries
    res = match(cdf, qdf, k=3, metric=metric).toPandas()
    d = brute(qmat, mat, metric)
    # expansion formula (reference numpy.py:27-38) has ~1e-15 cancellation,
    # amplified to ~1e-7 by sqrt near zero
    for qi in range(5):
        grp = res[res.query_id == f"d{qi:03d}"].sort_values("rank")
        np.testing.assert_allclose(grp.score.values, np.sort(d[qi])[:3], atol=1e-6)


def test_extra_and_custom_metric(spark, corpus, queries):
    cdf, mat = corpus
    qdf, qmat = queries
    res = match(cdf, qdf, k=3, metric="cityblock").toPandas()
    d = np.abs(qmat[:, None, :] - mat[None, :, :]).sum(-1)
    grp = res[res.query_id == "d000"].sort_values("rank")
    np.testing.assert_allclose(grp.score.values, np.sort(d[0])[:3], atol=1e-9)

    def inverted(x, y, eps=0.0):  # custom callable (test_find.py:11-25 analogue)
        return -(x @ y.T)

    res2 = match(cdf, qdf, k=1, metric=inverted).toPandas()
    best = (qmat @ mat.T).argmax(axis=1)
    got = {r.query_id: r.match_id for r in res2.itertuples()}
    assert got == {f"d{i:03d}": f"d{best[i]:03d}" for i in range(5)}


def test_filtered_search(spark, corpus, queries):
    cdf, mat = corpus
    qdf, _ = queries
    res = match(cdf, qdf, k=5, filter={"label": {"$eq": 2}}, eps=0.0).toPandas()
    ok = {f"d{i:03d}" for i in range(200) if i % 5 == 2}
    assert set(res.match_id).issubset(ok)
    assert len(res) == 25


def test_normalization(spark, corpus, queries):
    cdf, mat = corpus
    qdf, qmat = queries
    res = match(cdf, qdf, k=10, normalization=(0, 1), eps=0.0).toPandas()
    d = brute(qmat, mat)
    for qi in range(5):
        grp = res[res.query_id == f"d{qi:03d}"].sort_values("rank")
        lo, hi = d[qi].min(), d[qi].max()
        expected = (np.sort(d[qi])[:10] - lo) / (hi - lo + 1e-7)
        np.testing.assert_allclose(grp.score.values, np.clip(expected, 0, 1), atol=1e-9)
    # inverted target range (1, 0)
    res2 = match(cdf, qdf, k=3, normalization=(1, 0), eps=0.0).toPandas()
    grp = res2[res2.query_id == "d000"].sort_values("rank")
    assert (np.diff(grp.score.values) <= 1e-12).all()  # descending score, same rank order
    assert grp.score.values.max() <= 1.0 and grp.score.values.min() >= 0.0


def test_find_by_vectors_and_nulls(spark, corpus):
    cdf, mat = corpus
    # corpus with some null embeddings must not break nor match
    null_rows = [("x1", None, 0), ("x2", None, 1)]
    cdf2 = cdf.union(spark.createDataFrame(null_rows, schema=cdf.schema))
    res = find_by_vectors(cdf2, mat[7], k=1, metric="cosine", eps=0.0).toPandas()
    assert len(res) == 1
    assert res.iloc[0].match_id == "d007"
    assert res.iloc[0].query_id == 0


def test_degenerate_corpus_rows_are_never_candidates(spark, corpus, queries):
    # one rule for degenerate vectors (functions.vectors.as_matrix): a row
    # with a NULL element or the wrong length is not a candidate, and the
    # well-formed rows score exactly as they would alone
    from docarray_spark.operators.ann import ivf_match

    cdf, _ = corpus
    qdf, _ = queries
    bad = spark.createDataFrame(
        [("x_null_elem", [0.5] * 15 + [None], 0), ("x_short", [0.5] * 8, 0),
         ("x_long", [0.5] * 17, 0)],
        schema="id string, embedding array<double>, label int",
    )
    dirty = cdf.unionByName(bad).repartition(3)

    def rows(df):
        return sorted((r.query_id, r.rank, r.match_id, r.score) for r in df.collect())

    cents = [(r.id, r.embedding) for r in cdf.orderBy("id").limit(4).collect()]
    cents = [(i, v) for i, (_, v) in enumerate(cents)]
    for run in (
        lambda c: match(c, qdf, k=20, metric="cosine", eps=0.0),
        lambda c: ivf_match(c, qdf, k=20, n_probe=4, metric="sqeuclidean",
                            centroids=cents, vectorized=True),
    ):
        got, want = rows(run(dirty)), rows(run(cdf))
        # ranks and ids exact; scores up to BLAS blocking of other batch shapes
        assert [g[:3] for g in got] == [w[:3] for w in want]
        np.testing.assert_allclose([g[3] for g in got], [w[3] for w in want], rtol=1e-12, atol=1e-12)
        assert not {m for _, _, m, _ in got} & {"x_null_elem", "x_short", "x_long"}


def test_k_larger_than_corpus(spark, corpus, queries):
    cdf, _ = corpus
    qdf, _ = queries
    small = cdf.limit(3)
    res = match(small, qdf, k=10, eps=0.0).toPandas()
    assert len(res) == 5 * 3


def test_limit_none_returns_all(spark, sf_dir):
    """limit=None -> every corpus row per query, ranked
    (reference find.py:168-174, test_match.py:105-123)."""
    from pyspark.sql import functions as F

    from docarray_spark.operators.match import match

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    n = emb.count()
    queries = emb.filter("id < 3")
    got = match(emb, queries, k=None, metric="sqeuclidean", corpus_id_col="id")
    counts = {r["query_id"]: r["n"] for r in
              got.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: n, 1: n, 2: n}
    ranks = [r["rank"] for r in got.filter("query_id = 0").orderBy("rank").collect()]
    assert ranks == list(range(1, n + 1))


def test_match_on_chunks_via_traversal(spark):
    """Chunk-level matching (reference test_match.py:448-459): traverse to
    the chunk granularity on both sides, then match those frames — operator
    composition replaces the reference's da['@c'] argument plumbing."""
    import numpy as np
    from pyspark.sql import functions as F

    from docarray_spark.operators.match import match
    from docarray_spark.operators.traverse import traverse

    def mk_nodes(prefix, vecs):
        rows = [(f"{prefix}", "", 0, 0, None)] + [
            (f"{prefix}.{i}", prefix, 1, i, [float(x) for x in v])
            for i, v in enumerate(vecs)
        ]
        return spark.createDataFrame(
            rows,
            "id string, parent_id string, granularity int, offset long, embedding array<double>",
        )

    left = mk_nodes("L", [[1, 0], [0, 1]])
    right = mk_nodes("R", [[1, 0.1], [0.1, 1], [-1, 0]])
    lc = traverse(left, "c")
    rc = traverse(right, "c")
    got = match(rc, lc, k=1, metric="cosine", corpus_id_col="id",
                query_id_col="id", eps=0.0)
    best = {r["query_id"]: r["match_id"] for r in got.collect()}
    assert best == {"L.0": "R.0", "L.1": "R.1"}


def test_knn_graph_matches_exact(spark, sf_dir):
    """knn_graph == match(corpus, corpus) on every (query, match, rank)."""
    from pyspark.sql import functions as F

    from docarray_spark.operators import knn_graph, match

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(F.col("vec_id").alias("id"), "embedding")
        .filter("id < 80")
    )
    g = {
        (r.query_id, r.match_id, r.rank, r.score)
        for r in knn_graph(emb, k=5, n_blocks=4, round_scores=6).collect()
    }
    m = {
        (r.query_id, r.match_id, r.rank, r.score)
        for r in match(
            emb, emb, k=5, corpus_id_col="id", exclude_self=True, eps=0.0,
            round_scores=6,
        ).collect()
    }
    assert g == m


def test_exact_topk_keeps_kth_slot_ties_across_partitionings(spark):
    """Exact top-k must not depend on partitioning when scores tie at the
    k-th slot. Line corpus at integer spacing (exact float ties): with self
    excluded, query q's 9th slot is tied between q-5 and q+5 (squared
    distance 25). A map-side prune that keeps an arbitrary member of that
    tie lets the partitioning pick the winner; the documented rule is
    ascending score, then ascending ``match_id``."""
    from docarray_spark.operators import knn_graph

    n, k = 60, 9
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.0]) for i in range(n)],
        "id long, embedding array<double>",
    )
    expected = {
        (q, c, rank)
        for q in range(n)
        for rank, c in enumerate(
            sorted((c for c in range(n) if c != q), key=lambda c: ((c - q) ** 2, c))[:k],
            start=1,
        )
    }
    # n_blocks=1 puts both members of every tie in one block pair
    for parts, blocks in ((1, 1), (3, 2), (7, 4)):
        df = corpus.repartition(parts)
        m = match(
            df, corpus, k=k, metric="sqeuclidean", exclude_self=True, eps=0.0,
            only_id=True,
        ).collect()
        g = knn_graph(df, k=k, metric="sqeuclidean", n_blocks=blocks).collect()
        for op, got in (("match", m), (f"knn_graph(n_blocks={blocks})", g)):
            rows = {(r.query_id, r.match_id, r.rank) for r in got}
            assert rows == expected, f"{op} on repartition({parts})"
    # the fixture really ties at the k-th slot: query 5's boundary pair
    # (ids 0 and 10) resolves to the smaller id
    assert (5, 0, k) in expected and not any(e[:2] == (5, 10) for e in expected)


def test_topk_keep_retains_ties_and_nan_rows():
    """The map-side prune keeps every score ≤ the k-th; a NaN k-th score
    (fewer than k numbers) keeps the whole row, NaN ranking last."""
    from docarray_spark.functions.distance import grouped_topk_keep, topk_keep

    nan = float("nan")
    d = np.array([[3.0, 1.0, 2.0, 2.0, 5.0], [nan, 1.0, nan, nan, nan]])
    qi, ci = topk_keep(d, 2)
    assert sorted(zip(qi.tolist(), ci.tolist())) == [
        (0, 1), (0, 2), (0, 3), (1, 0), (1, 1), (1, 2), (1, 3), (1, 4)
    ]
    assert len(topk_keep(d, None)[0]) == d.size
    # the merge of several batches applies the same rule per query
    qi = np.array([0, 0, 0, 1, 1, 0])
    s = np.array([3.0, 1.0, 2.0, nan, 4.0, 2.0])
    assert sorted(grouped_topk_keep(qi, s, 2).tolist()) == [1, 2, 3, 4, 5]
    assert sorted(grouped_topk_keep(qi, s, 1).tolist()) == [1, 4]


def test_match_query_side_budget_guard(spark):
    """VERDICT r2 #4: match() driver-collects the query side (bounded-batch
    reference semantics) — an oversized query side must raise with a
    pointer to knn_graph, not silently collect."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from docarray_spark.operators.match import match as _match

    df = spark.range(40).select(
        F.col("id"),
        F.expr("transform(sequence(0, 3), j -> cast(id + j as float))").alias(
            "embedding"
        ),
    )
    with _pytest.raises(ValueError, match="knn_graph"):
        _match(df, df, k=2, max_query_rows=10)
    # raising the budget explicitly restores the old behavior
    out = _match(df, df.limit(12), k=2, max_query_rows=12)
    assert out.count() == 24


@pytest.mark.parametrize("op", ["match", "ivf_match", "pq_match", "hnsw_match"])
def test_query_collect_names_degenerate_query_ids(spark, op):
    """Every broadcast-query operator collects its queries through
    ``functions/vectors.py::collect_queries``: a query vector with a NULL
    element, or of another length than the first row, raises ValueError
    naming the operator and the query ids; an empty side names the
    operator too."""
    from docarray_spark.operators.ann import ivf_match
    from docarray_spark.operators.hnsw import hnsw_match
    from docarray_spark.operators.pq import pq_match

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(8)], "id long, embedding array<float>"
    )
    call = {
        "match": lambda q: match(corpus, q, k=2),
        "ivf_match": lambda q: ivf_match(
            corpus, q, k=2, n_cells=2, n_probe=1, vectorized=True
        ),
        "pq_match": lambda q: pq_match(corpus, q, [[[0.0, 0.0, 0.0]]], k=2),
        "hnsw_match": lambda q: hnsw_match(corpus, q, k=2),
    }[op]
    schema = "id long, embedding array<float>"
    null_elem = spark.createDataFrame(
        [(100, [1.0, 2.0, 3.0]), (101, [1.0, None, 3.0]), (102, [None, 0.0, 0.0])], schema
    )
    with pytest.raises(ValueError, match=rf"{op}: .*NULL element.*\[101, 102\]"):
        call(null_elem)
    ragged = spark.createDataFrame(
        [(200, [1.0, 2.0, 3.0]), (201, [1.0, 2.0]), (202, [1.0, 2.0, 3.0, 4.0])], schema
    )
    with pytest.raises(ValueError, match=rf"{op}: .*one length \(3\).*\[201, 202\]"):
        call(ragged)
    with pytest.raises(ValueError, match=rf"{op}: queries side is empty"):
        call(null_elem.filter("id < 0"))


def test_find_by_vectors_backend_dispatch(spark, sf_dir):
    """find(np_matrix) dispatches to the ANN backends the way the
    reference's storage classes do (memory=exact, annlite/qdrant=HNSW):
    every backend returns the matches schema, and the exact/hnsw paths
    agree on the top hit for an in-corpus query vector."""
    import numpy as np
    from pyspark.sql import functions as F

    from docarray_spark.operators.match import find_by_vectors

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    q = np.asarray(emb.filter("id = 3").first().embedding, dtype=float)
    outs = {}
    for backend, kw in [
        ("exact", {}),
        ("lsh", {"num_planes": 4, "num_tables": 16, "dim": 64}),
        ("ivf", {"n_cells": 8, "n_probe": 8}),
        ("hnsw", {"ef": 120}),
    ]:
        got = find_by_vectors(
            emb, q, k=5, metric="cosine", backend=backend,
            corpus_id_col="id", **kw,
        ).collect()
        assert {r["rank"] for r in got} == set(range(1, 6)), backend
        outs[backend] = min(got, key=lambda r: r["rank"])
    # the query vector IS corpus row 3 -> every backend's top hit finds it
    for backend, top in outs.items():
        assert top["match_id"] == 3 and top["score"] < 1e-9, backend
    with pytest.raises(ValueError, match="backend"):
        find_by_vectors(emb, q, backend="faiss")


def test_unified_find_dispatch(spark, sf_dir):
    """The reference's find() overloads behind ONE entry point: dict -> QL
    filter, str -> BM25, vectors -> kNN; wrong types raise."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F

    from docarray_spark.operators.find import find as ufind

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    flt = ufind(docs, {"lang": {"$eq": "en"}})
    assert flt.filter("lang <> 'en'").count() == 0 and flt.count() > 0

    first_text = docs.first().text
    probe = " ".join(first_text.split()[:3])
    ts = ufind(docs, probe, id_col="doc_id", text_col="text", k=5).collect()
    assert 0 < len(ts) <= 5 and {"score"} <= {f for f in ts[0].asDict()}

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    q = np.asarray(emb.first().embedding, dtype=float)
    nn = ufind(emb, q, k=3, metric="cosine", corpus_id_col="id").collect()
    assert len(nn) == 3 and min(nn, key=lambda r: r["rank"])["score"] < 1e-9

    with _pytest.raises(TypeError, match="find"):
        ufind(docs, 42)


def test_unified_find_str_serves_from_stored_bm25_index(spark, tmp_path):
    """find(str, index_path=...) routes to the bm25_refresh-maintained
    store index and returns the same ranking text_search computes on the
    raw corpus."""
    from docarray_spark.operators import bm25_refresh
    from docarray_spark.operators.find import find as ufind
    from docarray_spark.operators.text import text_search
    from docarray_spark.sources.writers import init_parquet_store

    docs = spark.createDataFrame(
        [(i, f"token{i % 7} common filler w{i}") for i in range(60)],
        "id long, text string",
    )
    store, idx = str(tmp_path / "store"), str(tmp_path / "idx")
    init_parquet_store(docs, store, n_buckets=4)
    bm25_refresh(spark, store, idx)

    q = "token3 common"
    want = [(r.id, r.rank) for r in text_search(
        docs, q, id_col="id", k=5, round_to=6).collect()]
    got = [(r.id, r.rank) for r in ufind(
        docs, q, index_path=idx, k=5, round_to=6).collect()]
    assert got == want


def test_unified_find_list_of_str_batched_from_stored_index(spark, tmp_path):
    """find(list[str], index_path=...) routes the WHOLE list to the
    batched stored-bm25 path (one job) and returns per-query rankings
    identical to the corpus-scoring path, tagged by query string."""
    from docarray_spark.operators import bm25_refresh
    from docarray_spark.operators.find import find as ufind
    from docarray_spark.operators.text import text_search
    from docarray_spark.sources.writers import init_parquet_store

    docs = spark.createDataFrame(
        [(i, f"token{i % 7} common filler w{i}") for i in range(60)],
        "id long, text string",
    )
    store, idx = str(tmp_path / "store"), str(tmp_path / "idx")
    init_parquet_store(docs, store, n_buckets=4)
    bm25_refresh(spark, store, idx)

    qs = ["token3 common", "token5 filler", "zzz_nothing"]
    got = ufind(docs, qs, index_path=idx, k=5, round_to=6).collect()
    assert set(got[0].asDict()) == {"id", "score", "rank", "query"}
    for q in qs:
        want = [(r.id, r.rank, r.score) for r in text_search(
            docs, q, id_col="id", k=5, round_to=6).collect()]
        part = sorted(((r.id, r.rank, r.score) for r in got if r.query == q),
                      key=lambda t: t[1])
        assert part == want, q

    # ADVICE r8 #5: the list branch gets the same explanatory text_col
    # guard as the single-string path — not an opaque unexpected-keyword
    # TypeError from inside bm25_match_stored
    import pytest as _pytest

    with _pytest.raises(TypeError, match="text_col applies only"):
        ufind(docs, qs, index_path=idx, text_col="text", k=5)


def test_find_by_vectors_hnsw_index_path(spark, tmp_path):
    """backend='hnsw' + index_path= serves from prebuilt graph segments —
    the vector twin of find(str, index_path=): corpus never re-indexed."""
    import numpy as np

    from docarray_spark.operators.hnsw import hnsw_build_store
    from docarray_spark.operators.match import find_by_vectors

    rows = [(i, [float(x) for x in np.random.RandomState(i).randn(8)])
            for i in range(100)]
    corpus = spark.createDataFrame(rows, "id long, embedding array<double>")
    path = str(tmp_path / "graphs")
    hnsw_build_store(corpus, path, metric="cosine", corpus_id_col="id")
    got = find_by_vectors(
        corpus, [rows[7][1]], k=3, metric="cosine",
        backend="hnsw", index_path=path,
    ).collect()
    assert {r.query_id for r in got} == {0}  # query ids are row positions
    assert min(got, key=lambda r: r.rank).match_id == 7


def test_find_by_vectors_quantized_backends(spark):
    """The quantized rungs of the backend ladder dispatch like the rest:
    sq8 / pq / ivfpq each resolve the self-query top-1 (pq/ivfpq via the
    exact rerank — the serving configuration), and unknown backends fail
    loudly."""
    rows = [(i, [float(x) for x in np.random.RandomState(i).randn(16)])
            for i in range(300)]
    corpus = spark.createDataFrame(rows, "id long, embedding array<double>")
    vec = rows[42][1]
    cfgs = (
        ("sq8", {}),
        ("pq", {"m": 4, "ksub": 32, "sample": 300, "n_iter": 4,
                "rerank_corpus": corpus, "rerank_factor": 8}),
        ("ivfpq", {"n_cells": 4, "n_probe": 4, "m": 4, "ksub": 32,
                   "sample": 300, "n_iter": 4,
                   "rerank_corpus": corpus, "rerank_factor": 8}),
    )
    for backend, kw in cfgs:
        got = find_by_vectors(
            corpus, [vec], k=5, metric="sqeuclidean", backend=backend, **kw
        ).collect()
        assert {r.query_id for r in got} == {0}, backend
        assert min(got, key=lambda r: r.rank).match_id == 42, backend
    with pytest.raises(ValueError, match="backend"):
        find_by_vectors(corpus, [vec], backend="nope")
