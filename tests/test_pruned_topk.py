"""``topk.pruned_topk`` against a float64 brute force: skipping the
clusters whose score bound lies strictly below the running K-th score
must give the ids and float64 scores of ``topk_positions(ids,
mat.astype(float64) @ q, k)`` over the allowed rows, or None exactly
when it does not apply. The resident tier must score only a few rows of
a clustered corpus and fall back to the full scan on an isotropic one."""

import importlib

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from hybrid_vector_search_spark import serving
from hybrid_vector_search_spark.operators.topk import (
    cluster_bounds,
    pruned_topk,
    topk_positions,
)

topk_mod = importlib.import_module("hybrid_vector_search_spark.operators.topk")
U = np.finfo(np.float64).eps / 2  # float64 unit roundoff


def _unit(m):
    return m / np.linalg.norm(m, axis=-1, keepdims=True)


def _rows(rng, n, d, shape):
    """A float32-valued matrix (as float64) and a float64 query."""
    q = _unit(rng.standard_normal(d))
    if shape == "duplicates":
        # dyadic values: every dot product is exact in any summation
        # order, so duplicate rows tie exactly and id ASC decides
        base = rng.integers(-4, 5, (max(n // 3, 1), d)) / 8.0
        q = rng.integers(-4, 5, d) / 8.0
        q[0] = q[0] or 0.125
        return base[rng.integers(0, len(base), n)], q
    if shape in ("planted", "non_finite"):
        cents = _unit(rng.standard_normal((max(n // 20, 1), d)))
        g = rng.integers(0, len(cents), n)
        noise = _unit(rng.standard_normal((n, d)))
        mat = _unit(0.95 * cents[g] + 0.31 * noise)
        q = _unit(0.95 * cents[g[0]] + 0.31 * _unit(rng.standard_normal(d)))
    else:
        mat = _unit(rng.standard_normal((n, d)))
    mat = mat.astype(np.float32)
    if shape == "ulp_apart":
        # copies of two rows, each element moved a float32 ulp up or
        # down at random: near ties straddle the K-th score
        mat = mat[rng.integers(0, min(n, 2), n)]
        step = rng.integers(-1, 2, mat.shape).astype(np.float32)
        mat = np.nextafter(mat, mat + step, dtype=np.float32)
    elif shape == "non_finite":
        mat[rng.integers(0, n)] = np.nan
        mat[rng.integers(0, n), rng.integers(0, d)] = np.inf
    return mat.astype(np.float64), q


def _labels(rng, mat, how):
    """``(labels, nlist)``: the resident tier's k-means, random labels
    (duplicate rows split across clusters), one row per cluster, or a
    few of many clusters (most of them empty)."""
    n = len(mat)
    if how == "kmeans":
        cb = serving._partition(mat)
        return cb.labels, len(cb.radii)
    if how == "random":
        nlist = int(rng.integers(1, n + 1))
        return rng.integers(0, nlist, n), nlist
    if how == "singletons":
        return rng.permutation(n), n
    nlist = 3 * n
    return rng.choice(nlist, 3)[rng.integers(0, 3, n)], nlist


def _allowed(rng, n, how):
    if how == "every":
        return None
    mask = np.zeros(n, dtype=bool)
    take = {"none": 0, "one": 1, "few": min(3, n), "all": n}.get(how)
    if take is None:  # "half"
        mask[rng.random(n) < 0.5] = True
    else:
        mask[rng.choice(n, take, replace=False)] = True
    return mask


def _norm_max(mat):
    """The largest row norm, NaN or inf when a row is not finite (as the
    resident tier computes it)."""
    return float(np.sqrt(np.max((mat.astype(np.float64) ** 2).sum(axis=1))))


def _brute(ids, mat, q, k, allowed):
    rows = np.arange(len(mat)) if allowed is None else np.flatnonzero(allowed)
    exact = mat[rows].astype(np.float64) @ np.asarray(q, dtype=np.float64)
    top = topk_positions(ids[rows], exact, k)
    return ids[rows][top], exact[top]


def _check(ids, mat, q, k, clusters, allowed, max_rows=None):
    norm_max = _norm_max(mat)
    got = pruned_topk(
        ids,
        mat,
        q,
        k,
        norm_max,
        clusters,
        allowed,
        clusters.count(allowed),
        len(mat) if max_rows is None else max_rows,
    )
    n_allowed = len(mat) if allowed is None else int(allowed.sum())
    if not np.isfinite(norm_max) or k >= n_allowed:
        assert got is None
        return None
    assert got is not None
    want = _brute(ids, mat, q, k, allowed)
    assert got[0].tolist() == want[0].tolist()
    assert got[1].dtype == np.float64
    np.testing.assert_allclose(got[1], want[1], rtol=0, atol=1e-12)
    return got


@settings(max_examples=300, deadline=None)
@given(
    seed=st.integers(0, 2**32 - 1),
    n=st.one_of(st.integers(1, 8), st.integers(60, 300)),
    d=st.sampled_from([1, 3, 16, 48]),
    k=st.one_of(st.integers(1, 12), st.integers(50, 300)),
    shape=st.sampled_from(
        ["planted", "isotropic", "duplicates", "ulp_apart", "non_finite"]
    ),
    labels=st.sampled_from(["kmeans", "random", "singletons", "sparse"]),
    allowed=st.sampled_from(["every", "none", "one", "few", "half", "all"]),
    dtype=st.sampled_from([np.float32, np.float64]),
    q_dtype=st.sampled_from([np.float32, np.float64]),
)
@example(  # clustered rows: most clusters are skipped
    seed=3, n=300, d=16, k=10, shape="planted", labels="kmeans",
    allowed="every", dtype=np.float32, q_dtype=np.float64,
)
@example(  # exact ties at the K-th, the tied rows in different clusters
    seed=5, n=120, d=16, k=7, shape="duplicates", labels="random",
    allowed="half", dtype=np.float32, q_dtype=np.float32,
)
@example(  # near ties a float32 ulp apart
    seed=1, n=100, d=48, k=10, shape="ulp_apart", labels="kmeans",
    allowed="every", dtype=np.float32, q_dtype=np.float32,
)
@example(  # one row per cluster on a tiny corpus
    seed=2, n=8, d=3, k=2, shape="isotropic", labels="singletons",
    allowed="all", dtype=np.float64, q_dtype=np.float64,
)
def test_pruned_topk_matches_float64_scan(
    seed, n, d, k, shape, labels, allowed, dtype, q_dtype
):
    rng = np.random.default_rng(seed)
    mat, q = _rows(rng, n, d, shape)
    mat, q = mat.astype(dtype), q.astype(q_dtype)
    ids = rng.permutation(4 * n)[:n].astype(np.int64)
    lab, nlist = _labels(rng, mat, labels)
    with np.errstate(invalid="ignore"):  # inf − inf on non-finite rows
        clusters = cluster_bounds(mat, lab, nlist)
    _check(ids, mat, q, k, clusters, _allowed(rng, n, allowed))


def _count_scored(monkeypatch):
    """Wrap ``screened_topk`` where the kernel and the tier call it: the
    list gets the rows each call scans (a full-matrix scan with ``rows``
    scans every row)."""
    scored = []
    real = topk_mod.screened_topk

    def spy(ids, mat, *args):
        scored.append(len(mat))
        return real(ids, mat, *args)

    monkeypatch.setattr(topk_mod, "screened_topk", spy)
    monkeypatch.setattr(serving, "screened_topk", spy)
    return scored


def test_a_cluster_within_rounding_of_the_kth_is_opened(monkeypatch):
    """The cluster of ``y`` has a bound 48 float64 ulps (of 1.0) below
    the K-th score ``L = 1``: beyond the rescore error ``e`` (16 ulps at
    D = 16) and beyond the rounding slack (about 40) alone, within their
    sum. Every bound here is computed exactly, so the kernel must open
    the cluster by the rule alone: dropping ``e`` or the slack skips
    it."""
    d = 16
    mat = np.zeros((2, d))
    mat[0, 0] = 1.0  # z, the K-th score
    mat[1, 0] = 1.0 - 48 * U  # y
    q = np.eye(d)[0]
    ids = np.array([5, 9], dtype=np.int64)
    clusters = cluster_bounds(mat, np.array([0, 1]), 2)
    scored = _count_scored(monkeypatch)
    _check(ids, mat, q, 1, clusters, None)
    assert sum(scored) == 2


def test_a_bound_equal_to_the_cutoff_is_opened():
    """A zero query scores every row 0 and bounds every cluster at 0 =
    ``L − e``: no cluster is strictly below the cut-off, so all are
    opened. The three smallest ids sit in three different clusters, so
    skipping the clusters whose bound equals the cut-off (``≤`` in
    place of ``<``) misses one of them."""
    rng = np.random.default_rng(0)
    mat = _unit(rng.standard_normal((8, 4)))
    ids = np.array([10, 11, 0, 12, 1, 13, 2, 14], dtype=np.int64)
    clusters = cluster_bounds(mat, np.repeat(np.arange(4), 2), 4)
    got = _check(ids, mat, np.zeros(4), 3, clusters, None)
    assert got[0].tolist() == [0, 1, 2]


def _tier(mat):
    n = len(mat)
    meta = pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "lang": np.where(np.arange(n) % 10 < 7, "en", "de"),
        }
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("lang", T.StringType()),
        ]
    )
    return serving.LocalCorpusServe(meta["id"].to_numpy(), mat, meta, schema)


@pytest.mark.parametrize("data", ["planted", "isotropic"])
def test_resident_searches_score_a_few_rows_of_a_clustered_corpus(
    data, monkeypatch
):
    """On 20,000×64 rows blended toward 100 planted centers, resident
    exact and broad (70%) pre_filter searches score under 5% of the
    rows; on isotropic rows no cluster can be ruled out and each search
    ends in the full scan. Every answer equals a float64 brute force."""
    rng = np.random.default_rng(11)
    n, d, k = 20_000, 64, 10
    cents = _unit(rng.standard_normal((100, d)))
    if data == "planted":
        g = rng.integers(0, len(cents), n)
        noise = _unit(rng.standard_normal((n, d)))
        mat = _unit(0.95 * cents[g] + 0.31 * noise).astype(np.float32)
    else:
        mat = _unit(rng.standard_normal((n, d))).astype(np.float32)
    tier = _tier(mat)
    broad = {"lang": {"in": ["en"]}}
    allowed = tier.meta["lang"].to_numpy() == "en"
    scored = _count_scored(monkeypatch)
    for i in range(10):
        q = _unit(0.95 * cents[i] + 0.31 * _unit(rng.standard_normal(d)))
        for filters, mask in ((None, None), (broad, allowed)):
            scored.clear()
            got = (
                tier.exact_topk(q, k)
                if filters is None
                else tier.prefilter_topk(q, filters, k)
            )
            want = _brute(tier.ids, mat, q, k, mask)
            assert [i for i, _ in got] == want[0].tolist()
            np.testing.assert_allclose(
                [s for _, s in got], want[1], rtol=0, atol=1e-12
            )
            if data == "planted":
                assert sum(scored) < 0.05 * n, (filters, scored)
            else:
                assert scored[-1] == n, (filters, scored)
