"""``topk.screened_topk`` against a float64 brute force: a scan in the
matrix's own dtype, an exact error bound, and a float64 rescore of the
rows the bound keeps must give the ids and float64 scores of
``topk_positions(ids, mat.astype(float64) @ q, k)``."""

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from hybrid_vector_search_spark.operators.topk import (
    screened_topk,
    topk_positions,
)


def _unit_rows(rng, n, d):
    mat = rng.standard_normal((n, d))
    return mat / np.linalg.norm(mat, axis=1, keepdims=True)


def _case(rng, n, d, shape):
    """A float32-valued matrix (as float64) and a float64 unit query."""
    q = rng.standard_normal(d)
    q /= np.linalg.norm(q)
    if shape == "duplicates":
        # dyadic values: every dot product is exact in any summation
        # order, so duplicate rows tie exactly and id ASC decides
        base = rng.integers(-4, 5, (max(n // 3, 1), d)) / 8.0
        mat = base[rng.integers(0, len(base), n)]
        q = rng.integers(-4, 5, d) / 8.0
        q[0] = q[0] or 0.125
        return mat, q
    mat = _unit_rows(rng, n, d).astype(np.float32)
    if shape == "non_unit":
        mat *= np.float32(1.001)
    elif shape == "ulp_apart":
        # copies of two rows, each element moved a float32 ulp up or
        # down at random: scores a few ulps apart straddle the K-th, and
        # the float32 scan misorders them (duplicates dropped, so no
        # two rows tie exactly)
        mat = mat[rng.integers(0, min(n, 2), n)]
        step = rng.integers(-1, 2, mat.shape).astype(np.float32)
        mat = np.unique(
            np.nextafter(mat, mat + step, dtype=np.float32), axis=0
        )
        mat = mat[rng.permutation(len(mat))]
    elif shape == "non_finite":
        mat[rng.integers(0, n)] = np.nan
        mat[rng.integers(0, n), rng.integers(0, d)] = np.inf
    return mat.astype(np.float64), q


def _norm_max(mat):
    """The largest norm of a finite row: a NaN or inf row must be caught
    by the scan, not by a non-finite bound."""
    norms = np.sqrt((mat.astype(np.float64) ** 2).sum(axis=1))
    norms = norms[np.isfinite(norms)]
    return float(norms.max()) if len(norms) else 0.0


def _float64_scan(ids, mat, q, k, rows=None):
    sub = mat if rows is None else mat[rows]
    sub_ids = ids if rows is None else ids[rows]
    exact = sub.astype(np.float64) @ np.asarray(q, dtype=np.float64)
    top = topk_positions(sub_ids, exact, k)
    return sub_ids[top], exact[top]


def _assert_same(got, want):
    assert got[0].tolist() == want[0].tolist()
    assert got[1].dtype == np.float64
    np.testing.assert_allclose(got[1], want[1], rtol=0, atol=1e-12)


@settings(max_examples=300, deadline=None)
@given(
    seed=st.integers(0, 2**32 - 1),
    n=st.one_of(st.integers(1, 8), st.integers(60, 120)),
    d=st.sampled_from([1, 2, 5, 48, 130]),
    k=st.one_of(st.integers(1, 12), st.integers(50, 130)),
    shape=st.sampled_from(
        ["plain", "duplicates", "ulp_apart", "non_unit", "non_finite"]
    ),
    dtype=st.sampled_from([np.float32, np.float64]),
    q_dtype=st.sampled_from([np.float32, np.float64]),
    subset=st.booleans(),
)
@example(  # near ties the float32 scan misorders at the K-th
    seed=1, n=100, d=48, k=10, shape="ulp_apart", dtype=np.float32,
    q_dtype=np.float32, subset=False,
)
@example(
    seed=1, n=100, d=48, k=10, shape="ulp_apart", dtype=np.float32,
    q_dtype=np.float64, subset=True,
)
@example(  # a NaN row and an inf row among the K best
    seed=0, n=8, d=5, k=3, shape="non_finite", dtype=np.float32,
    q_dtype=np.float32, subset=False,
)
def test_screened_topk_matches_float64_scan(
    seed, n, d, k, shape, dtype, q_dtype, subset
):
    rng = np.random.default_rng(seed)
    mat, q = _case(rng, n, d, shape)
    mat, q = mat.astype(dtype), q.astype(q_dtype)
    n = len(mat)
    ids = rng.permutation(4 * n)[:n].astype(np.int64)
    rows = np.flatnonzero(rng.random(n) < 0.5) if subset else None
    got = screened_topk(ids, mat, q, k, _norm_max(mat), rows)
    _assert_same(got, _float64_scan(ids, mat, q, k, rows))


class _Spy(np.ndarray):
    """A matrix that records the row count of every row gather."""

    gathers: list = []

    def __getitem__(self, at):
        out = np.asarray(super().__getitem__(at))
        if self.ndim == 2 and isinstance(at, np.ndarray):
            _Spy.gathers.append(len(out))
        return out


def test_screened_topk_rescores_only_what_the_bound_keeps():
    """On a unit-norm float32 matrix the float64 rescore gathers the K
    best rows and the few the bound cannot rule out, not the matrix;
    with a row subset, only candidates among those rows."""
    rng = np.random.default_rng(7)
    mat = _unit_rows(rng, 20_000, 64).astype(np.float32)
    q = _unit_rows(rng, 1, 64)[0].astype(np.float32)
    ids = np.arange(len(mat), dtype=np.int64)
    rows = np.flatnonzero(rng.random(len(mat)) < 0.3)
    for subset in (None, rows):
        _Spy.gathers = []
        got = screened_topk(ids, mat.view(_Spy), q, 10, _norm_max(mat), subset)
        _assert_same(got, _float64_scan(ids, mat, q, 10, subset))
        assert len(_Spy.gathers) == 1 and 10 <= _Spy.gathers[0] < 100
