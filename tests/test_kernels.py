"""The Arrow kernel boundary (``functions/kernels.py``) and the shared
Lloyd round built on it (``operators/kmeans.py``)."""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pytest

from faers_datalakehouse_spark.functions.kernels import matrix
from faers_datalakehouse_spark.operators.kmeans import lloyd_round, nearest_cids

_VEC = pa.list_(pa.int64())


def _batch(rows) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays([pa.array(rows, _VEC)], names=["v"])


def test_matrix_honours_slice_offset():
    batch = _batch([[1, 2], [3, 4], [5, 6], [7, 8]]).slice(1, 2)
    X = matrix(batch, "v")
    assert X.dtype == np.int64
    assert X.tolist() == [[3, 4], [5, 6]]


@pytest.mark.parametrize(
    "rows",
    [[[1, 2], None], [[1, 2], [3, None]], [[1, 2], [3]]],
    ids=["null_list", "null_element", "ragged"],
)
def test_matrix_rejects_null_or_ragged(rows):
    with pytest.raises(ValueError):
        matrix(_batch(rows), "v")


def test_nearest_cids_refuses_values_whose_distance_wraps():
    d = 4
    bound = math.isqrt(2**63 // d) // 2
    C = np.zeros((2, d), dtype=np.int64)
    C[1] = -(bound - 1)
    below = np.full((1, d), bound - 1, dtype=np.int64)
    # the largest admissible distance, d·(2·bound - 2)², is exact
    assert nearest_cids(below, C).tolist() == [0]
    for edge in (bound, -bound):
        with pytest.raises(ArithmeticError):
            nearest_cids(np.full((1, d), edge, dtype=np.int64), C)


def _reference_round(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """One Lloyd round written out per subspace and cluster in Python
    ints: argmin with ties to the lowest cid, then the mean rounded half
    away from zero; an empty cluster keeps its centroid."""
    m, k, d = C.shape
    out = C.copy()
    for s in range(m):
        members: list[list[list[int]]] = [[] for _ in range(k)]
        for x in X[:, s * d : (s + 1) * d].tolist():
            dist = [sum((a - b) ** 2 for a, b in zip(x, c)) for c in C[s].tolist()]
            members[dist.index(min(dist))].append(x)
        for c, pts in enumerate(members):
            if pts:
                n = len(pts)
                for j in range(d):
                    t = sum(p[j] for p in pts)
                    out[s, c, j] = (1 if t >= 0 else -1) * ((2 * abs(t) + n) // (2 * n))
    return out


@pytest.mark.parametrize("m_sub", [1, 8])
def test_lloyd_round_matches_reference(spark, m_sub):
    rng = np.random.default_rng(7)
    d_sub, k = 2, 4
    X = rng.integers(-1000, 1000, size=(60, m_sub * d_sub))
    C = X[:k].reshape(k, m_sub, d_sub).transpose(1, 0, 2).copy()
    C[:, k - 1] = 10**6  # no point is nearest: an empty cluster per subspace
    q = spark.createDataFrame(
        [(i, row) for i, row in enumerate(X.tolist())], "vec_id long, qv array<bigint>"
    ).repartition(3)
    got = lloyd_round(q, C)
    want = _reference_round(X, C)
    assert (got[:, k - 1] == 10**6).all()
    assert got.tolist() == want.tolist()
