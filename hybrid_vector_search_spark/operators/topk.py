"""Top-K selection operators.

Reference K3 (argpartition + sort of the K slice, src/dataio/loaders.py:44-46)
maps to Spark's ``TakeOrderedAndProject`` physical operator: each partition
keeps a bounded K-heap, the driver merges — the same partial/final top-K,
distributed. Engine ordering contract: ``score DESC, id ASC`` (the reference
leaves ties unstable; we pin them — SURVEY.md §8 Q-ties).

``grouped_topk`` is the set-at-a-time form: one window per group key runs
every query's top-K in a single job.

``screened_topk`` and ``pruned_topk`` are the driver-side exact top-K of a
resident matrix: the first scans every given row, the second skips the
clusters of rows (``cluster_bounds``) whose score bound rules them out.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def topk(
    df: DataFrame, k: int, score_col: str = "score", id_col: str = "id"
) -> DataFrame:
    """Global top-K by ``score DESC, id ASC`` — plans as TakeOrderedAndProject
    (per-partition bounded heap + driver merge), no full sort, no shuffle."""
    return df.orderBy(F.col(score_col).desc(), F.col(id_col).asc()).limit(k)


def topk_positions(ids: np.ndarray, scores: np.ndarray, k: int) -> np.ndarray:
    """Positions of the driver-side top-K by ``score DESC, id ASC`` —
    the reference's argpartition + sort of the K slice, made exact on
    ties: ``np.partition`` finds the K-th score, and only the rows at or
    above it (every row tied with the K-th included) go through the
    (score DESC, id ASC) ``lexsort``. NaN scores rank last, as in a
    full ``lexsort``."""
    neg = -np.asarray(scores, dtype=np.float64)
    n = len(neg)
    k = min(int(k), n)
    if k <= 0:
        return np.zeros(0, dtype=np.intp)
    cand = np.arange(n)
    if k < n:
        # np.partition places NaN last, so the K-th is NaN only when
        # fewer than K scores are numbers: then every row is a candidate
        kth = np.partition(neg, k - 1)[k - 1]
        if kth == kth:
            cand = np.flatnonzero(neg <= kth)
    return cand[np.lexsort((ids[cand], neg[cand]))[:k]]


def screened_topk(
    ids: np.ndarray,
    mat: np.ndarray,
    q,
    k: int,
    norm_max: float,
    rows: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The top ``k`` by (score DESC, id ASC) of ``mat @ q`` scored in
    float64, as ``(ids, float64 scores)`` best first — over the rows
    ``rows`` of ``mat`` when given, else every row (``ids`` holds one id
    per row of ``mat``). ``norm_max`` bounds the L2 norm of every row
    of finite values.

    Filter and refine with an exact bound (REPOSE, ICDE 2021,
    PAPERS.md): the whole scan runs in ``mat``'s own dtype (float32 for
    a corpus of ``ARRAY<FLOAT>`` embeddings: half the bytes of a float64
    scan over the same values), and only the rows the bound cannot rule
    out are rescored in float64 and ranked by :func:`topk_positions`.
    The answer is the one ``topk_positions(ids, mat.astype(float64) @
    q, k)`` gives, up to float64 summation order.

    The bound. Let ``qs`` be ``q`` rounded to ``mat``'s dtype and ``u``
    that dtype's unit roundoff (``eps / 2``). A dot product of length
    ``D`` computed in floating point, in any summation order, is off by
    at most ``γ_D · Σ|x_i·qs_i| ≤ γ_D·‖x‖·‖qs‖`` (Higham, *Accuracy and
    Stability of Numerical Algorithms*, §3.1), with ``γ_D = D·u / (1 −
    D·u)``, and rounding ``q`` to ``qs`` moves the exact score by at
    most ``‖x‖·‖q − qs‖``: every screened score is within ``b =
    norm_max·(γ_D·‖qs‖ + ‖q − qs‖)`` of the exact one, and every float64
    rescore within ``e = norm_max·γ'_D·‖q‖`` (``γ'`` at float64's
    roundoff). Let ``kth`` be the K-th screened score and ``bound = b +
    e``. Each of the K rows screened at or above ``kth`` rescores at
    least ``kth − b − e``; a row screened below ``kth − 2·bound``
    rescores below ``kth − 2·bound + b + e = kth − b − e``, so K rows
    beat it and it cannot be in the float64 top K. ``bound`` takes
    ``γ_{D+2}`` in place of ``γ_D`` in ``b``: the extra ``2u·norm_max·
    ‖qs‖`` or more absorbs the rounding of the bound's own arithmetic.
    The cut-off is rounded down to ``mat``'s dtype before the
    comparison, so rounding it can only keep more rows.

    When ``k`` covers every row, or a screened score is not finite (a
    NaN or inf row, or an overflow, where the bound says nothing), every
    row is rescored: NaN then ranks last, as in :func:`topk_positions`."""
    q = np.asarray(q, dtype=np.float64).reshape(-1)
    qs = q.astype(mat.dtype)
    s = mat @ qs
    if rows is not None:
        s, ids = s[rows], ids[rows]
    n = len(s)
    k = min(int(k), n)
    cand = None  # every row
    if 0 < k < n and np.isfinite(s).all():
        d = mat.shape[1]
        bound = norm_max * (
            _gamma(d + 2, mat.dtype) * np.linalg.norm(qs.astype(np.float64))
            + np.linalg.norm(q - qs)
            + _gamma(d, np.float64) * np.linalg.norm(q)
        )
        thr = float(np.partition(s, n - k)[n - k]) - 2.0 * bound
        if np.isfinite(thr):
            cut = mat.dtype.type(thr)
            if float(cut) > thr:
                cut = np.nextafter(cut, mat.dtype.type(-np.inf))
            cand = np.flatnonzero(s >= cut)
    if cand is not None:
        ids, rows = ids[cand], cand if rows is None else rows[cand]
    exact = (mat if rows is None else mat[rows]).astype(np.float64) @ q
    top = topk_positions(ids, exact, k)
    return ids[top], exact[top]


def _gamma(d: int, dtype) -> float:
    """Higham's ``γ_d = d·u / (1 − d·u)`` at ``dtype``'s unit roundoff
    ``u``: the relative error bound of a length-``d`` dot product (inf
    once ``d·u ≥ 1``, where it bounds nothing)."""
    du = d * np.finfo(dtype).eps / 2
    return du / (1 - du) if du < 1 else np.inf


#: rows per temporary when the resident partition reads a matrix
BLOCK_ROWS = 8192


class ClusterBounds(NamedTuple):
    """A partition of a matrix's rows into ``nlist`` clusters: cluster
    ``c`` holds the rows ``members[starts[c]:starts[c + 1]]`` (its rows
    have label ``c`` in ``labels``), all within ``radii[c]`` of the
    float64 center ``means[c]`` (of L2 norm ``mean_norms[c]``). An empty
    cluster has center 0 and radius 0."""

    labels: np.ndarray
    members: np.ndarray
    starts: np.ndarray
    means: np.ndarray
    mean_norms: np.ndarray
    radii: np.ndarray

    def count(self, allowed: np.ndarray | None) -> np.ndarray:
        """The rows of each cluster that the bool row mask ``allowed``
        keeps (every row when None)."""
        if allowed is None:
            return np.diff(self.starts)
        return np.bincount(
            self.labels, weights=allowed, minlength=len(self.radii)
        ).astype(np.intp)


def cluster_bounds(
    mat: np.ndarray, labels: np.ndarray, nlist: int
) -> ClusterBounds:
    """The :class:`ClusterBounds` of the rows of ``mat`` labelled with
    clusters ``0 ≤ labels < nlist``: each center is the float64 mean of
    its rows, and each radius is rounded up past the largest float64
    distance of a row to its center, so that ``radii[c] ≥ ‖x − means[c]‖``
    holds exactly. Each cluster's rows are read twice (mean, then
    radius), at most :data:`BLOCK_ROWS` at a time; the matrix itself is
    not reordered.

    The rounding: each difference ``x_i − μ_i`` is off by at most a
    unit roundoff ``u`` relative, its square and the sum of ``D``
    squares by ``γ_{D+1}``, so the exact squared distance is at most
    the computed one times ``1 + γ_{D+3}`` and the distance at most the
    computed one (``u`` for the square root) times ``1 + γ_{D+4}``; the
    product is rounded up by one ulp."""
    labels = np.asarray(labels, dtype=np.intp)
    sizes = np.bincount(labels, minlength=nlist)
    starts = np.concatenate(([0], np.cumsum(sizes)))
    members = np.argsort(labels, kind="stable")
    means = np.zeros((nlist, mat.shape[1]))
    r2 = np.zeros(nlist)
    for c in np.flatnonzero(sizes):
        own = members[starts[c] : starts[c + 1]]
        blocks = [
            own[lo : lo + BLOCK_ROWS] for lo in range(0, len(own), BLOCK_ROWS)
        ]
        means[c] = sum(_rows(mat, b).sum(axis=0) for b in blocks) / len(own)
        for b in blocks:
            diff = _rows(mat, b) - means[c]
            r2[c] = max(r2[c], np.einsum("ij,ij->i", diff, diff).max())
    radii = np.nextafter(
        np.sqrt(r2) * (1 + _gamma(mat.shape[1] + 4, np.float64)), np.inf
    )
    radii[sizes == 0] = 0.0
    return ClusterBounds(
        labels, members, starts, means, np.linalg.norm(means, axis=1), radii
    )


def _rows(mat: np.ndarray, at: np.ndarray) -> np.ndarray:
    return np.asarray(mat[at], dtype=np.float64)


def pruned_topk(
    ids: np.ndarray,
    mat: np.ndarray,
    q,
    k: int,
    norm_max: float,
    clusters: ClusterBounds,
    allowed: np.ndarray | None,
    counts: np.ndarray,
    max_rows: int,
) -> tuple[np.ndarray, np.ndarray] | None:
    """:func:`screened_topk` over the rows of ``mat`` that ``allowed``
    (a bool mask, or None for every row) keeps, reading only the
    clusters of ``clusters`` that a score bound cannot rule out — or
    None when that would not pay, and the caller scans instead: when
    more than ``max_rows`` allowed rows would be opened, when
    ``norm_max`` (the largest row L2 norm, NaN or inf when a row is not
    finite) or the query norm is not finite, or when ``k`` covers every
    allowed row. The answer is the one ``screened_topk`` gives over
    every allowed row. ``counts`` is ``clusters.count(allowed)``, which
    a caller that asks with one mask again keeps.

    The bound (per-partition bounds as in REPOSE, ICDE 2021; a running
    K-th score as in the EDBT 2020 incremental top-K framework,
    PAPERS.md). A row ``x`` of cluster ``c`` scores ``x·q = μ_c·q +
    (x − μ_c)·q ≤ μ_c·q + ‖q‖·r_c``. ``UB_c`` is that bound computed in
    float64 plus a slack ``γ_{D+4}·(‖μ_c‖ + r_c + norm_max)·‖q‖``: the
    dot product, the norm and the products and sums of the bound are off
    by at most ``γ_{D+2}·(‖μ_c‖ + r_c)·‖q‖``, and the rest covers the
    rounding of adding the slack and of ``L − e`` below. Clusters are
    opened in descending ``UB_c`` order until they hold ``k`` allowed
    rows; :func:`screened_topk` over them gives ``L``, their K-th float64
    score. A row's float64 score is within ``e = norm_max·γ_D·‖q‖`` of
    its exact one (the rescore term of :func:`screened_topk`), so every
    row of a cluster with ``UB_c < L − e`` scores strictly below ``L``
    in float64, and ``k`` rows already reach ``L``: it cannot be in the
    top K, even on a tie broken by id. Every cluster whose bound is not
    strictly below ``L − e`` is opened as well, and the answer is the
    top K of the opened rows."""
    q = np.asarray(q, dtype=np.float64).reshape(-1)
    qn = float(np.linalg.norm(q))
    if not (np.isfinite(norm_max) and np.isfinite(qn)) or k >= counts.sum():
        return None
    d = mat.shape[1]
    ub = clusters.means @ q + clusters.radii * qn
    ub += (
        _gamma(d + 4, np.float64)
        * (clusters.mean_norms + clusters.radii + norm_max)
        * qn
    )
    ub[counts == 0] = -np.inf
    order = np.argsort(-ub)
    opened = np.cumsum(counts[order])
    first = int(np.searchsorted(opened, k)) + 1  # clusters holding k rows
    if opened[first - 1] > max_rows:
        return None
    top_ids, top = screened_topk(
        *_gather(ids, mat, clusters, order[:first], allowed), q, k, norm_max
    )
    cut = top[-1] - norm_max * _gamma(d, np.float64) * qn
    # the clusters whose bound is not strictly below the cut-off
    last = int(np.searchsorted(-ub[order], -cut, side="right"))
    if last > first:
        if opened[last - 1] > max_rows:
            return None
        more_ids, more = screened_topk(
            *_gather(ids, mat, clusters, order[first:last], allowed),
            q,
            k,
            norm_max,
        )
        top_ids = np.concatenate((top_ids, more_ids))
        top = np.concatenate((top, more))
        best = topk_positions(top_ids, top, k)
        top_ids, top = top_ids[best], top[best]
    return top_ids, top


def _gather(ids, mat, clusters: ClusterBounds, which, allowed):
    """``(ids, rows of mat)`` of the allowed members of the clusters
    ``which``."""
    lo = clusters.starts[which]
    size = clusters.starts[which + 1] - lo
    at = np.arange(size.sum()) + np.repeat(lo - np.cumsum(size) + size, size)
    rows = clusters.members[at]
    if allowed is not None:
        rows = rows[allowed[rows]]
    return ids[rows], mat[rows]


def grouped_topk(
    df: DataFrame,
    group_cols: list[str],
    k: int,
    score_col: str = "score",
    id_col: str = "id",
) -> DataFrame:
    """Per-group top-K via ``row_number`` window — one shuffle on the group
    key runs all groups' top-Ks simultaneously (the idiomatic batch form the
    reference's per-query loop cannot express)."""
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
