"""Top-K selection operators.

Reference K3 (argpartition + sort of the K slice, src/dataio/loaders.py:44-46)
maps to Spark's ``TakeOrderedAndProject`` physical operator: each partition
keeps a bounded K-heap, the driver merges — the same partial/final top-K,
distributed. Engine ordering contract: ``score DESC, id ASC`` (the reference
leaves ties unstable; we pin them — SURVEY.md §8 Q-ties).

``grouped_topk`` is the set-at-a-time form: one window per group key runs
every query's top-K in a single job.
"""

from __future__ import annotations

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
