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
