"""Distance kernels.

Two tiers, mirroring the reference's dispatch
(``/root/reference/docarray/math/distance/__init__.py:23-121``):

* **numpy kernels** (``cosine``/``sqeuclidean``/``euclidean``,
  ``math/distance/numpy.py:9,27,83``) — used inside ``mapInArrow`` by the
  match operator on matrices from ``functions.vectors.as_matrix``; BLAS
  matrix-matrix products, the fast path for bulk kNN.
* **Column expressions** — pure Catalyst higher-order functions
  (``zip_with`` + ``aggregate``), JVM-side, for per-pair distances inside
  joins (e.g. embedding near-dup joins) where no batching is possible.

The reference's cosine adds an ``eps`` jitter to numerator and denominator
(``numpy.py:9-24``); pass ``eps=0.0`` for the mathematically plain cosine
distance (what SQL oracles compute).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F

from docarray_spark.functions.vectors import as_matrix


# ------------------------------------------------------------ numpy kernels

def cosine(x: np.ndarray, y: np.ndarray, eps: float = 1e-7) -> np.ndarray:
    return 1 - np.clip(
        (np.dot(x, y.T) + eps)
        / (np.outer(np.linalg.norm(x, axis=1), np.linalg.norm(y, axis=1)) + eps),
        -1,
        1,
    )


def sqeuclidean(x: np.ndarray, y: np.ndarray, eps: float = 0.0) -> np.ndarray:
    # clamp at 0: the expansion can go ~-1e-14 for identical vectors, and a
    # negative zero after rounding would break bitwise comparison vs oracles
    return np.maximum(
        np.sum(y**2, axis=1)
        + np.sum(x**2, axis=1)[:, np.newaxis]
        - 2 * np.dot(x, y.T),
        0.0,
    )


def euclidean(x: np.ndarray, y: np.ndarray, eps: float = 0.0) -> np.ndarray:
    return np.sqrt(sqeuclidean(x, y))


def cityblock(x: np.ndarray, y: np.ndarray, eps: float = 0.0) -> np.ndarray:
    return np.abs(x[:, None, :] - y[None, :, :]).sum(axis=-1)


def chebyshev(x: np.ndarray, y: np.ndarray, eps: float = 0.0) -> np.ndarray:
    return np.abs(x[:, None, :] - y[None, :, :]).max(axis=-1)


def inner_product(x: np.ndarray, y: np.ndarray, eps: float = 0.0) -> np.ndarray:
    """Negative inner product (smaller = more similar), max-IP search."""
    return -np.dot(x, y.T)


DISTANCE_KERNELS: dict[str, Callable] = {
    "cosine": cosine,
    "sqeuclidean": sqeuclidean,
    "euclidean": euclidean,
    "cityblock": cityblock,
    "manhattan": cityblock,
    "chebyshev": chebyshev,
    "inner_product": inner_product,
}


def resolve_metric(metric) -> Callable:
    """'cosine'/'sqeuclidean'/'euclidean' → builtin kernel; any other string →
    scipy cdist passthrough (``array/mixins/match.py:33-38``); a callable is
    used as-is (custom-metric surface, ``array/mixins/find.py:93``)."""
    if callable(metric):
        return metric
    if metric in DISTANCE_KERNELS:
        return DISTANCE_KERNELS[metric]

    def _scipy(x, y, eps=0.0, _m=metric):
        try:
            from scipy.spatial.distance import cdist
        except ImportError as e:
            raise ValueError(
                f"metric {_m!r} is not a builtin kernel ({sorted(DISTANCE_KERNELS)}) "
                "and scipy is not installed for cdist passthrough"
            ) from e
        return cdist(x, y, metric=_m)

    return _scipy


# ------------------------------------------------- partial top-k (map side)
#
# A map-side prune may keep a SUPERSET of each query's k nearest, never an
# arbitrary subset of a tie: the global ``row_number`` over
# ``(score, match_id)`` can only break ties among the rows that reach it.
# So both helpers keep every score ≤ the k-th smallest (boundary ties
# retained) and leave the final k to the rank window. NaN sorts after
# every number, as in Spark's ordering; a row whose k-th score is NaN
# keeps all its entries (its NaN ties included) instead of none.


def topk_keep(d: np.ndarray, k: int | None) -> tuple[np.ndarray, np.ndarray]:
    """``(row, col)`` indices of the entries of the score matrix ``d``
    (queries × candidates) that a partial top-k keeps; ``k=None`` keeps
    everything."""
    n = d.shape[1]
    kk = n if k is None else min(k, n)
    if kk == n:
        return np.divmod(np.arange(d.size), n)
    thr = np.partition(d, kth=kk - 1, axis=1)[:, kk - 1]
    keep = d <= thr[:, None]
    keep[np.isnan(thr)] = True
    # flatnonzero + divmod: ~10x faster than a 2-D np.nonzero here
    return np.divmod(np.flatnonzero(keep), n)


def grouped_topk_keep(qi: np.ndarray, s: np.ndarray, k: int | None) -> np.ndarray:
    """Indices of the flat candidates ``(query index qi, score s)`` that a
    per-query partial top-k keeps — the merge of several
    :func:`topk_keep` outputs; ``k=None`` keeps everything."""
    if k is None or len(qi) == 0:
        return np.arange(len(qi))
    order = np.lexsort((s, qi))  # by query, then score with NaN last
    qi_o, s_o = qi[order], s[order]
    start = np.flatnonzero(np.r_[True, qi_o[1:] != qi_o[:-1]])
    size = np.diff(np.r_[start, len(qi_o)])
    thr = np.repeat(s_o[start + np.minimum(k, size) - 1], size)
    return order[(s_o <= thr) | np.isnan(thr)]


# ------------------------------------------------------- Column expressions

def rounded_rank_key(col: Column | str, round_to: int | None) -> Column:
    """Ranking key for scores that come out of a SHUFFLE-SUMMED aggregate
    (BM25 term sums, sparse dots): rank on the ROUNDED score when the
    operator rounds for output, so two rows tied at ``round_to`` decimals
    — whose raw sums differ only in aggregation-order ulps — break on the
    explicit id tie-break instead of a per-run artifact (the r5 PQ / r9
    BM25 lesson). Per-row fold/kernel scores (match, ADC) don't need
    this: their evaluation order is fixed per row."""
    return F.round(col, round_to) if round_to is not None else (
        F.col(col) if isinstance(col, str) else col
    )


def dot_col(a: Column | str, b: Column | str) -> Column:
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm_col(a: Column | str) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_distance_col(a: Column | str, b: Column | str) -> Column:
    """Plain cosine distance (eps=0) as a JVM-side expression."""
    return 1 - dot_col(a, b) / (l2_norm_col(a) * l2_norm_col(b))


def sqeuclidean_distance_col(a: Column | str, b: Column | str) -> Column:
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def euclidean_distance_col(a: Column | str, b: Column | str) -> Column:
    return F.sqrt(sqeuclidean_distance_col(a, b))


# ------------------------------------------- Arrow pair-distance kernels
#
# The Column forms above are higher-order AGGREGATE expressions —
# CodegenFallback, every element evaluated through the interpreted
# expression tree (the r12 stage profile measured ~10 s of task time for
# ~4k joined 128-d pairs). These arrow_udf twins accumulate in DIMENSION
# ORDER with the identical float64 operation sequence (x*y products /
# diff*diff squares, left-to-right adds starting at 0.0, then the same
# sqrt/divide/subtract order), so their values are bit-for-bit the fold
# forms' — pinned in tests/test_distance_pairs.py — at Arrow-batch speed.
# zip_with's NULL semantics are mirrored: a NULL input, a NULL element or
# unequal lengths give a NULL distance. Rows of mixed lengths run the
# dimension-order loop once per distinct length.


def pair_distance_udf(metric: str):
    """→ arrow_udf ``(a, b) -> double`` mirroring
    ``{metric}_distance_col`` bit-for-bit (see block comment)."""
    if metric not in ("cosine", "sqeuclidean", "euclidean"):
        raise ValueError(f"no Arrow pair kernel for metric {metric!r}")

    @F.arrow_udf("double")
    def _dist(a: pa.Array, b: pa.Array) -> pa.Array:
        out = np.zeros(len(a), dtype=np.float64)
        ok = np.zeros(len(a), dtype=bool)
        lens = a.value_lengths().fill_null(-1).to_numpy()
        for d in np.unique(lens[lens >= 0]):
            X, va = as_matrix(a, dim=int(d))
            Y, vb = as_matrix(b, dim=int(d))
            rows = va & vb
            X, Y = X[rows], Y[rows]
            ok |= rows
            m = len(X)
            if metric == "cosine":
                dot = np.zeros(m); na = np.zeros(m); nb = np.zeros(m)
                for j in range(X.shape[1]):
                    dot += X[:, j] * Y[:, j]
                    na += X[:, j] * X[:, j]
                    nb += Y[:, j] * Y[:, j]
                out[rows] = 1.0 - dot / (np.sqrt(na) * np.sqrt(nb))
            else:
                acc = np.zeros(m)
                for j in range(X.shape[1]):
                    diff = X[:, j] - Y[:, j]
                    acc += diff * diff
                out[rows] = np.sqrt(acc) if metric == "euclidean" else acc
        # NaN (a zero-norm cosine) is NULL too, as the fold's 0/0 is
        return pa.array(out, mask=~ok | np.isnan(out))

    return _dist
