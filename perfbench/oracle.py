"""Independent answers the engine's outputs are checked against.

* ``filter_mask`` evaluates the canonical filter DSL over the generated
  metadata in numpy, without the engine's predicate code.
* ``exact_topk`` scores in float64 over the same float32 values the engine
  reads and orders by (score DESC, id ASC).
* ``same_topk`` accepts an engine answer when it equals the oracle's up to
  exact-score ties; ``recall`` is the share of the oracle's top-K found.
* ``frame_digest`` is the row count and order-insensitive value hash used
  to compare a drain's rows with its DuckDB oracle.
* ``Ledger`` counts attempted and failed ops and keeps the first failures.
"""

from __future__ import annotations

import hashlib

import numpy as np

#: scores closer than this are one tie class (float64 sums of 384 float32
#: products in different orders differ by ~1e-16)
TIE_TOL = 1e-9


def filter_mask(meta, filters) -> np.ndarray:
    """Boolean mask of the rows of ``meta`` (pandas) passing ``filters``:
    a conjunction over columns of ``eq``/``in``/``le``/``ge``/``between``
    and ``like`` (case-insensitive substring). NULLs never pass."""
    n = len(meta)
    mask = np.ones(n, dtype=bool)
    for col, ops in (filters or {}).items():
        s = meta[col]
        vals = s.to_numpy()
        present = s.notna().to_numpy()
        for op, arg in ops.items():
            if op == "eq":
                m = vals == arg
            elif op == "in":
                m = np.isin(vals, list(arg))
            elif op == "le":
                m = present & (s.fillna(0).to_numpy() <= arg)
            elif op == "ge":
                m = present & (s.fillna(0).to_numpy() >= arg)
            elif op == "between":
                lo, hi = arg
                x = s.fillna(0).to_numpy()
                m = present & (x >= lo) & (x <= hi)
            elif op == "like":
                m = s.fillna("").str.lower().str.contains(
                    str(arg).lower(), regex=False).to_numpy()
            else:
                raise ValueError(f"oracle has no op {op!r}")
            mask &= m & present
    return mask


def scores_f64(emb: np.ndarray, rows: np.ndarray, q: np.ndarray,
               chunk: int = 16_384) -> np.ndarray:
    """float64 inner products of ``emb[rows]`` (float32) with ``q``."""
    q = np.asarray(q, dtype=np.float64)
    out = np.empty(len(rows), dtype=np.float64)
    for lo in range(0, len(rows), chunk):
        blk = emb[rows[lo:lo + chunk]].astype(np.float64)
        out[lo:lo + chunk] = blk @ q
    return out


def exact_topk(ids: np.ndarray, scores: np.ndarray, k: int) -> list[tuple[int, float]]:
    """Top-``k`` (id, score) by (score DESC, id ASC)."""
    k = min(int(k), len(ids))
    if k <= 0:
        return []
    if len(ids) > 4 * k:
        # exact preselection: everything scoring at least the k-th best
        kth = np.partition(scores, len(scores) - k)[len(scores) - k]
        keep = scores >= kth
        ids, scores = ids[keep], scores[keep]
    order = np.lexsort((ids, -scores))[:k]
    return [(int(ids[i]), float(scores[i])) for i in order]


def same_topk(got_ids: list[int], truth: list[tuple[int, float]],
              score_of: dict[int, float]) -> str | None:
    """``None`` when ``got_ids`` equals the oracle's ``truth`` up to ties,
    else a one-line reason. ``score_of`` maps every candidate id to its
    oracle score (ids missing from it did not pass the filter)."""
    want = [i for i, _ in truth]
    if list(got_ids) == want:
        return None
    if len(got_ids) != len(want):
        return f"returned {len(got_ids)} ids, oracle has {len(want)}"
    if len(set(got_ids)) != len(got_ids):
        return "duplicate ids in answer"
    for i in got_ids:
        if i not in score_of:
            return f"id {i} does not qualify"
    got_scores = [score_of[i] for i in got_ids]
    for pos, ((_, ws), gs) in enumerate(zip(truth, got_scores)):
        if abs(ws - gs) > TIE_TOL:
            return f"rank {pos}: score {gs!r} where oracle has {ws!r}"
    return None


def recall(got_ids: list[int], truth: list[tuple[int, float]]) -> float:
    """|got ∩ oracle top-K| / |oracle top-K| (1.0 when nothing qualifies)."""
    want = {i for i, _ in truth}
    if not want:
        return 1.0
    return len(want.intersection(got_ids)) / len(want)


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if v != v else round(v, 9)
    if hasattr(v, "ndim") and getattr(v, "ndim", 0) > 0:
        return tuple(_canon(x) for x in v)
    if hasattr(v, "item"):
        return _canon(v.item())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "isoformat"):
        return str(v)
    return v


def frame_digest(pdf) -> tuple[int, str]:
    """(row count, hash of the sorted canonical rows over sorted column
    names) — equal for two frames holding the same multiset of rows."""
    cols = sorted(pdf.columns)
    rows = sorted(
        (repr(tuple(_canon(v) for v in row))
         for row in pdf[cols].itertuples(index=False, name=None)),
    )
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return len(rows), h.hexdigest()[:16]


class Ledger:
    """Attempted/failed op counts; the first few failures are kept."""

    def __init__(self, keep: int = 20):
        self.attempted = 0
        self.failed = 0
        self.first: list[str] = []
        self._keep = keep

    def record(self, op: str, problem: str | None) -> bool:
        self.attempted += 1
        if problem is None:
            return True
        self.failed += 1
        if len(self.first) < self._keep:
            self.first.append(f"{op}: {problem}")
        return False
