"""The one Arrow vector boundary: ``list<float|double>`` → float64 matrix.

Every worker-side kernel that needs a batch of embeddings as a matrix —
exact ``match`` / ``knn_graph``, IVF, PQ/SQ encode, HNSW build, cell
assignment, LSH signatures, the pair-distance kernel, semantic dedup and
MMR — receives the embedding column as a pyarrow list array
(``mapInArrow`` / ``arrow_udf`` / ``applyInArrow``) and converts it here,
the way the reference stacks ``da.embeddings`` in one place
(``math/ndarray.py:10-54``). The vector column never goes through pandas.

Degenerate rows get ONE rule, owned by :func:`as_matrix`: a row is valid
iff it is non-NULL, holds no NULL element, and has exactly ``d`` elements,
where ``d`` is the caller's known dimension (centroids, codebooks, the
query matrix) or else the length of the first non-NULL row. What an
invalid row means is the caller's: not a candidate (match, knn_graph,
IVF, PQ, SQ, HNSW), cell -1 (assignment), NULL (pair distance, LSH
signatures) — the same outcome a NULL row gets at that site.

The driver-side query batch of the broadcast-query operators (``match``,
vectorized ``ivf_match``, PQ/SQ/IVF-PQ, HNSW) crosses the same boundary
through :func:`collect_queries`, which raises on an invalid query row.

float32 → float64 promotion is exact, so the matrix holds the column's
values bit for bit and the kernels' results match the Column-fold forms
and the SQL oracles.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def as_matrix(values, dim: int | None = None) -> tuple[np.ndarray, np.ndarray]:
    """``(X, valid)``: a float64 ``(n, d)`` matrix of the list array
    ``values`` (a ``ListArray``, a slice of one, or a ``ChunkedArray``)
    and the boolean validity mask of the rule above; invalid rows of
    ``X`` are zeros. ``dim`` is the known dimension, if any."""
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    n = len(values)
    # offsets honour a slice; .values is the WHOLE child, so every child
    # position below is absolute and NULL slots may cover non-empty ranges
    off = values.offsets.to_numpy()
    lens = np.diff(off)
    valid = (
        np.ones(n, dtype=bool)
        if values.null_count == 0
        else ~values.is_null().to_numpy(zero_copy_only=False)
    )
    if dim is None:
        first = np.flatnonzero(valid)
        dim = int(lens[first[0]]) if len(first) else 0
    valid &= lens == dim
    child = values.values
    if child.null_count:
        nulls = np.r_[0, np.cumsum(child.is_null().to_numpy(zero_copy_only=False))]
        valid &= nulls[off[1:]] == nulls[off[:-1]]
    if n == 0:
        return np.zeros((0, dim)), valid
    flat = child.slice(off[0], off[-1] - off[0]).to_numpy(zero_copy_only=False)
    if valid.all():  # rows are then contiguous: one reshape, no gather
        return flat.astype(np.float64).reshape(n, dim), valid
    X = np.zeros((n, dim))
    X[valid] = flat[(off[:-1][valid] - off[0])[:, None] + np.arange(dim)]
    return X, valid


def collect_queries(
    queries, id_col: str, on: str, max_rows: int, op: str
) -> tuple[list, np.ndarray]:
    """``(qids, qmat)``: the driver-side query batch that ``op`` broadcasts.

    Rows with a NULL id or vector are dropped; at most ``max_rows + 1``
    rows are collected (through Arrow, converted by :func:`as_matrix`), so
    an unbounded query side fails fast instead of filling the driver. A
    query vector with a NULL element, or one whose length differs from the
    first row's, raises naming up to 5 such query ids."""
    table = queries.select(id_col, on).dropna().limit(max_rows + 1).toArrow()
    if table.num_rows == 0:
        raise ValueError(f"{op}: queries side is empty")
    if table.num_rows > max_rows:
        raise ValueError(
            f"{op} broadcasts the query side (> {max_rows} rows found); use "
            "knn_graph for unbounded corpus-vs-corpus kNN, or raise "
            "max_query_rows explicitly if the driver can hold it"
        )
    qids = table.column(0).to_pylist()
    qmat, valid = as_matrix(table.column(1))
    if not valid.all():
        bad = [qids[i] for i in np.flatnonzero(~valid)[:5]]
        raise ValueError(
            f"{op}: query vectors must have no NULL element and one length "
            f"({qmat.shape[1]}); offending query ids: {bad}"
        )
    return qids, qmat


def unit_rows(X: np.ndarray) -> np.ndarray:
    """Rows of ``X`` scaled to unit L2 norm; zero rows stay zero."""
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    return X / np.where(norms == 0.0, 1.0, norms)


def list_array(
    M: np.ndarray, valid: np.ndarray | None = None, nan_is_null: bool = False
) -> pa.ListArray:
    """The inverse boundary: a ``(n, w)`` matrix as a list array over its
    contiguous buffer, NULL where ``valid`` is False; ``nan_is_null``
    turns NaN elements into NULL ones, as a pandas round trip would."""
    n, w = M.shape
    offsets = pa.array(np.arange(0, (n + 1) * w, w, dtype=np.int32))
    mask = None if valid is None or valid.all() else pa.array(~valid)
    values = pa.array(np.ascontiguousarray(M).ravel(), from_pandas=nan_is_null)
    return pa.ListArray.from_arrays(offsets, values, mask=mask)
