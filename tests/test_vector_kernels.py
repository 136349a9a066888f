"""The shared vector pieces of the Python boundary against the forms they
replace: ``functions.xxh64.matrix`` against ``np.stack`` over the pandas
rows of a list column, and ``clustering.nearest_centroid`` (its worker
function, called on Arrow arrays) against the ``cn2 - 2 x.cT`` argmin
and argsort written out in NumPy.  Values are compared bit for bit, so
NaN and the sign of zero count.  The UDF tests take the ``spark`` fixture
only because a UDF's return type is parsed by the session."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from heparchy_spark.functions.xxh64 import list_array, matrix
from heparchy_spark.operators.clustering import _dist2_udf, nearest_centroid

CENTS = np.array(
    [[0.0, 0.0, 1.0], [1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [1.0, 1.0, 1.0]]
)


def stacked(arr) -> np.ndarray:
    """The old read: pandas rows of the list column, stacked."""
    return np.stack(arr.to_pandas().to_numpy()).astype("float64")


def bits(x: np.ndarray) -> np.ndarray:
    return np.ascontiguousarray(x, dtype="float64").view(np.uint64)


def vectors(rows, value_type=pa.float64()):
    return pa.array(rows, pa.list_(value_type))


EDGE_ROWS = [
    [0.5, -0.0, 2.0],
    [float("nan"), 1.0, 0.0],
    [-0.0, 0.0, -0.0],
    [1e300, -1e-300, 3.25],
    [0.1, 0.2, 0.3],
]


@pytest.mark.parametrize("value_type", [pa.float64(), pa.float32()])
def test_matrix_is_the_stacked_rows_bit_for_bit(value_type):
    arr = vectors(EDGE_ROWS, value_type)
    got = matrix(arr)
    assert got.dtype == np.float64 and got.shape == (5, 3)
    np.testing.assert_array_equal(bits(got), bits(stacked(arr)))
    assert np.signbit(got[2]).tolist() == [True, False, True]


def test_matrix_reads_a_sliced_array_from_its_offset():
    arr = vectors(EDGE_ROWS)
    for start, stop in [(1, 4), (2, 5), (4, 5)]:
        part = arr.slice(start, stop - start)
        assert part.offset == start
        want = np.array(EDGE_ROWS[start:stop], dtype="float64").reshape(-1, 3)
        np.testing.assert_array_equal(bits(matrix(part)), bits(want))
    part = arr.slice(1, 3)
    np.testing.assert_array_equal(bits(matrix(part)), bits(stacked(part)))


def test_matrix_of_no_rows_is_empty():
    assert matrix(vectors([])).shape == (0, 0)
    assert matrix(vectors(EDGE_ROWS).slice(3, 0)).shape == (0, 0)


def test_list_array_is_the_inverse_of_matrix():
    m = np.array(EDGE_ROWS)
    got = list_array(m)
    assert got.type == pa.list_(pa.float64()) and len(got) == 5
    np.testing.assert_array_equal(bits(matrix(got)), bits(m))
    codes = np.arange(12, dtype="int32").reshape(4, 3)[:, ::2]  # strided
    assert list_array(codes).type == pa.list_(pa.int32())
    assert list_array(codes).to_pylist() == codes.tolist()
    assert list_array(np.empty((0, 3), "int32")).to_pylist() == []
    assert list_array(np.empty((2, 0))).to_pylist() == [[], []]


def test_a_null_component_reads_as_nan():
    arr = vectors([[1.0, None], [2.0, 3.0]])
    got = matrix(arr)
    assert np.isnan(got[0, 1]) and got[1].tolist() == [2.0, 3.0]
    np.testing.assert_array_equal(bits(got), bits(stacked(arr)))


@pytest.mark.parametrize(
    "rows",
    [
        [[1.0, 2.0], None, [3.0, 4.0]],  # a null row
        [[1.0, 2.0], [3.0], [4.0, 5.0]],  # a ragged row
        [[1.0, 2.0], []],  # an empty row beside a full one
    ],
)
def test_null_and_ragged_rows_raise_value_error(spark, rows):
    arr = vectors(rows)
    with pytest.raises(ValueError):
        stacked(arr)
    with pytest.raises(ValueError):
        matrix(arr)
    with pytest.raises(ValueError):
        nearest_centroid(CENTS[:, :2]).func(arr)


def old_d2(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    cn2 = (cents**2).sum(axis=1)
    return cn2[None, :] - 2.0 * (x @ cents.T)


@pytest.mark.parametrize("value_type", [pa.float64(), pa.float32()])
def test_nearest_matches_the_argmin(spark, value_type):
    rng = np.random.default_rng(3)
    rows = rng.normal(size=(200, 3)).tolist() + EDGE_ROWS
    arr = vectors(rows, value_type).slice(7)
    got = nearest_centroid(CENTS).func(arr)
    assert got.type == pa.int32()
    want = old_d2(stacked(arr), CENTS).argmin(axis=1)
    assert got.to_pylist() == want.tolist()


def test_ties_take_the_lowest_cluster_id(spark):
    # (1, 1, 1) is equally far from the three unit centroids
    cents = np.array([[0.0, 1.0, 0.0], [1.0, 0.0, 0.0], [0.0, 0.0, 1.0]])
    cents = np.vstack([cents, cents[::-1]])  # duplicates: 3..5 tie 2..0
    arr = vectors([[1.0, 1.0, 1.0], [0.0, 0.0, 2.0], [2.0, 0.0, 0.0]])
    assert nearest_centroid(cents).func(arr).to_pylist() == [0, 2, 1]
    got = nearest_centroid(cents, nprobe=4).func(arr).to_pylist()
    assert got == [[0, 1, 2, 3], [2, 3, 0, 1], [1, 4, 0, 2]]


def test_nprobe_gives_the_nearest_first(spark):
    rng = np.random.default_rng(5)
    cents = rng.normal(size=(9, 4))
    arr = vectors(rng.normal(size=(300, 4)).tolist()).slice(11, 250)
    want = np.argsort(old_d2(stacked(arr), cents), axis=1)
    for nprobe in (2, 5, 9, 12):
        got = nearest_centroid(cents, nprobe).func(arr)
        assert got.type == pa.list_(pa.int32())
        assert got.to_pylist() == want[:, :nprobe].tolist()


def test_nearest_of_nan_components_is_the_first_centroid(spark):
    arr = vectors([[float("nan"), 0.0, 0.0], [0.0, 0.0, 5.0]])
    want = old_d2(stacked(arr), CENTS).argmin(axis=1).tolist()
    assert nearest_centroid(CENTS).func(arr).to_pylist() == want == [0, 0]


def test_dist2_matches_the_stacked_form(spark):
    arr = vectors(EDGE_ROWS, pa.float32()).slice(1)
    cl = pa.array([3, 0, 2, 1], pa.int32())
    got = _dist2_udf(CENTS).func(arr, cl).to_numpy()
    want = ((stacked(arr) - CENTS[cl.to_numpy()]) ** 2).sum(axis=1)
    np.testing.assert_array_equal(bits(got), bits(want))
