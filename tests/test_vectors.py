"""The Arrow vector boundary (functions/vectors.py): numpy/pyarrow only."""

import numpy as np
import pyarrow as pa

from docarray_spark.functions.vectors import as_matrix, list_array, unit_rows

F32 = pa.list_(pa.float32())


def test_float32_values_bit_identical_to_per_row_stack():
    rng = np.random.default_rng(0)
    rows = rng.standard_normal((50, 16)).astype(np.float32)
    X, valid = as_matrix(pa.array(list(rows), F32))
    ref = np.asarray([np.asarray(r, dtype=np.float64) for r in rows])
    assert X.dtype == np.float64 and valid.all()
    assert np.array_equal(X, ref)


def test_null_rows_null_elements_and_ragged_rows_are_invalid():
    arr = pa.array(
        [[1, 2], None, [3, None], [4], [5, 6, 7], [8, 9]], pa.list_(pa.float64())
    )
    X, valid = as_matrix(arr)
    assert valid.tolist() == [True, False, False, False, False, True]
    assert np.array_equal(X[valid], [[1, 2], [8, 9]])
    assert not X[~valid].any()  # invalid rows are zero-filled


def test_dim_comes_from_first_non_null_row_or_the_caller():
    arr = pa.array([None, [1, 2, 3], [4, 5]], pa.list_(pa.float64()))
    X, valid = as_matrix(arr)
    assert X.shape == (3, 3) and valid.tolist() == [False, True, False]
    X, valid = as_matrix(arr, dim=2)
    assert X.shape == (3, 2) and valid.tolist() == [False, False, True]
    assert np.array_equal(X[2], [4, 5])


def test_sliced_array_honours_the_offset():
    arr = pa.array([[0, 0], [1, 2], None, [3, 4], [5, 6]], pa.list_(pa.float64()))
    X, valid = as_matrix(arr.slice(1, 3))
    assert valid.tolist() == [True, False, True]
    assert np.array_equal(X[valid], [[1, 2], [3, 4]])
    X, valid = as_matrix(arr.slice(3, 2))  # all valid: the reshape path
    assert valid.all() and np.array_equal(X, [[3, 4], [5, 6]])


def test_null_row_backed_by_a_non_empty_range():
    # a NULL slot whose offsets still span two child values (Arrow allows it)
    child = pa.array([1.0, 2.0, 9.0, 9.0, 3.0, 4.0])
    offsets = pa.array([0, 2, 4, 6], pa.int32())
    arr = pa.ListArray.from_arrays(offsets, child, mask=pa.array([False, True, False]))
    assert arr.is_null().to_pylist() == [False, True, False]
    X, valid = as_matrix(arr)
    assert valid.tolist() == [True, False, True]
    assert np.array_equal(X[valid], [[1, 2], [3, 4]])


def test_chunked_array():
    chunked = pa.chunked_array(
        [pa.array([[1, 2]], F32), pa.array([None, [3, 4]], F32)]
    )
    X, valid = as_matrix(chunked)
    assert valid.tolist() == [True, False, True]
    assert np.array_equal(X[valid], [[1, 2], [3, 4]])


def test_empty_batch():
    X, valid = as_matrix(pa.array([], F32))
    assert X.shape == (0, 0) and valid.shape == (0,)
    X, valid = as_matrix(pa.array([], F32), dim=4)
    assert X.shape == (0, 4)
    X, valid = as_matrix(pa.array([None, None], F32))
    assert X.shape == (2, 0) and not valid.any()


def test_unit_rows_zero_norm_safe():
    X = np.array([[3.0, 4.0], [0.0, 0.0]])
    U = unit_rows(X)
    assert np.array_equal(U, [[0.6, 0.8], [0.0, 0.0]])
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    assert np.array_equal(U, X / np.where(norms == 0.0, 1.0, norms))


def test_list_array_round_trip_with_nulls():
    M = np.arange(6, dtype=np.float64).reshape(3, 2)
    arr = list_array(M, np.array([True, False, True]))
    assert arr.to_pylist() == [[0.0, 1.0], None, [4.0, 5.0]]
    X, valid = as_matrix(arr)
    assert valid.tolist() == [True, False, True] and np.array_equal(X[valid], M[[0, 2]])


def test_list_array_nan_is_null():
    M = np.array([[1.0, np.nan]])
    assert np.isnan(list_array(M).to_pylist()[0][1])
    assert list_array(M, nan_is_null=True).to_pylist() == [[1.0, None]]
