"""Vector scalar functions: inner-product scoring, normalization, checks.

The scoring hot path (reference K1/K2: ``scores = V @ q`` at
src/dataio/loaders.py:28-46) is an Arrow-batched pandas UDF — each batch of
``array<float>`` rows is stacked into one NumPy matrix and hit with a single
BLAS matrix-vector product, reproducing the reference's vectorized columnar
execution inside Spark executors. Scoring is float64 to match the
reference oracle's upcast (src/eval/oracle.py:48).

``cosine_score_col`` is a pure-SQL (JVM/codegen) alternative built from
higher-order functions — slower than BLAS per row but with zero Python
overhead; used where a plan must stay whole-stage-codegen or for small
inputs.
"""

from __future__ import annotations

import math
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hybrid_vector_search_spark.errors import ValidationError


def ensure_unit_l2(qvec: Sequence[float], tol: float = 1e-3) -> np.ndarray:
    """Validate the query vector is unit-L2 within tolerance; no silent
    re-normalization (reference: src/dataio/validators.py:37-48)."""
    v = np.asarray(qvec, dtype=np.float32).reshape(-1)
    n = float(np.linalg.norm(v))
    if n == 0.0:
        raise ValidationError("Embedding norm is zero; cannot validate")
    if not math.isclose(n, 1.0, rel_tol=tol, abs_tol=tol):
        raise ValidationError(f"Embedding L2 norm {n:.6f} not within tolerance {tol}")
    return v


def double_array_lit(vals: Sequence[float]) -> Column:
    """A double-array literal Column as ONE foldable expression node:
    ``CAST(split('<csv>', ',') AS ARRAY<DOUBLE>)``. Catalyst re-analyzes
    every child of an expression on each DataFrame call over the plan,
    so an ``array(...)`` of one literal per element costs 30–80 ms of
    plan build per 384-d scoring plan; this node has three children
    and constant-folds to the same array literal in the optimizer.
    ``repr`` emits the shortest decimal that parses back to the same
    float64 (the JVM's string→double cast is correctly rounded), so
    values are bit-identical to the ``lit()`` path; non-finite values
    and the empty array fall back to the Column API."""
    fv = [float(v) for v in vals]
    if fv and all(math.isfinite(v) for v in fv):
        csv = ",".join(repr(v) for v in fv)
        return F.expr(f"CAST(split('{csv}', ',') AS ARRAY<DOUBLE>)")
    return F.array(*[F.lit(v) for v in fv])


def long_array_lit(vals: Sequence[int]) -> Column:
    """Long-array literal Column from one SQL parse (see
    :func:`double_array_lit`)."""
    iv = [int(v) for v in vals]
    if iv:
        return F.expr(
            "array(" + ", ".join(f"{v}L" for v in iv) + ")"
        )
    return F.array(*[F.lit(v).cast("long") for v in iv])


def dot_score_column(
    qvec: Sequence[float], embedding_col: str = "embedding"
):
    """JVM-side dot product of an ``array<float>`` column against a fixed
    query vector: ``aggregate(zip_with(embedding, q, *), +)`` — a
    JVM-evaluated expression with NO Python worker in the plan. (Spark's
    higher-order functions don't implement ``doGenCode``, so the
    expression itself runs interpreted *inside* the codegen'd stage —
    the win over the pandas-UDF kernel is skipping the Arrow round
    trip, not codegen of the arithmetic; an unrolled 384-term codegen
    sum was measured 4.6× SLOWER than this at the reference shape.)

    Regime rule (r7 profile at the reference's 150,346×384 shape): for
    SINGLE-query scoring the Arrow round trip of the pandas-UDF kernel
    dominates the GEMM it buys — exact full-scan 516→295 ms, strict
    pre_filter 351→60 ms, IVF probed subset 338→73 ms with this
    expression. Use :func:`dot_score_pandas_udf` when one plan scores
    MANY queries per scanned row (``per_qid_dot_scores``,
    ``multi_dot_scores`` — the matrix-matrix GEMM amortizes the one
    Arrow transfer across the query set). Sums run sequentially in
    float64, bit-matching DuckDB's ``list_dot_product`` summation order
    even more closely than numpy's pairwise reduction."""
    # elementwise cast INSIDE the zip_with lambda, not an array-level
    # cast: `.cast("array<double>")` materializes an intermediate array
    # per row before the product array — dropping it is a measured 25%
    # on the reference-shape full scan (318→240 ms, identical results).
    # The query is ONE literal node (double_array_lit), so the plan
    # build does not grow with the dimension.
    return F.aggregate(
        F.zip_with(
            F.col(embedding_col),
            double_array_lit(qvec),
            lambda a, b: a.cast("double") * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_score_pandas_udf(qvec: Sequence[float]):
    """Pandas UDF scoring a corpus ``array<float>`` column against a fixed
    query vector: one ``matrix @ q`` BLAS call per Arrow batch.

    The query vector is captured in the closure (a few KB — pickled once
    per task, negligible; for batched multi-query scoring see
    operators/strategies.py which broadcasts the full query matrix).
    For LATENCY-bound single-query plans prefer :func:`dot_score_column`
    (JVM codegen, no Arrow hop — see its regime rule).
    """
    q = np.asarray(qvec, dtype=np.float64).reshape(-1)

    @F.pandas_udf(T.DoubleType())
    def _score(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for batch in it:
            if len(batch) == 0:
                yield pd.Series([], dtype="float64")
                continue
            mat = np.vstack(batch.to_numpy()).astype(np.float64, copy=False)
            yield pd.Series(mat @ q)

    return _score


def multi_dot_scores(
    df, qvecs: dict[int, Sequence[float]], id_col: str = "id",
    emb_col: str = "embedding", normalize: bool = False,
):
    """Score EVERY query against every row in one corpus scan: each Arrow
    batch runs a single ``batch_matrix @ Q.T`` GEMM and fans out
    ``(id, qid, score)`` rows — the set-at-a-time shape for batch KNN
    (one scan regardless of query count; Q lives in the task closure).
    """
    qids = sorted(qvecs)
    qmat = np.vstack([
        np.asarray(qvecs[q], dtype=np.float64) for q in qids
    ])
    if normalize:  # cosine instead of raw inner product
        qmat /= np.maximum(
            np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12
        )
    qid_arr = np.asarray(qids, dtype=np.int64)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for p in batches:
            if len(p) == 0:
                continue
            ids = p[id_col].to_numpy()
            mat = np.vstack(p[emb_col].to_numpy()).astype(np.float64)
            if normalize:
                mat /= np.maximum(
                    np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
                )
            scores = mat @ qmat.T  # (batch, n_queries)
            n, m = scores.shape
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, m),
                    "qid": np.tile(qid_arr, n),
                    "score": scores.ravel(),
                }
            )

    return df.select(id_col, emb_col).mapInPandas(
        fn, f"{id_col} LONG, qid LONG, score DOUBLE"
    )


def per_qid_dot_scores(
    df, qvecs: dict[int, Sequence[float]], id_col: str = "id",
    emb_col: str = "embedding", qid_col: str = "qid",
):
    """Score each (row, qid) pair against that qid's query vector in one
    vectorized pass — the scoring stage of the set-at-a-time batch
    executor, where upstream filtering already fanned each row out to
    only the qids whose predicates it passes (so the input is
    Σ_q selectivity_q · N rows, not N × |queries|)."""
    qids = sorted(qvecs)
    qmat = np.vstack([np.asarray(qvecs[q], dtype=np.float64) for q in qids])
    idx_of = {q: i for i, q in enumerate(qids)}

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for p in batches:
            if len(p) == 0:
                continue
            mat = np.vstack(p[emb_col].to_numpy()).astype(np.float64)
            qi = p[qid_col].map(idx_of).to_numpy(dtype=np.int64)
            scores = np.einsum("ij,ij->i", mat, qmat[qi])
            yield pd.DataFrame(
                {
                    id_col: p[id_col].to_numpy(),
                    qid_col: p[qid_col].to_numpy(),
                    "score": scores,
                }
            )

    return df.select(id_col, qid_col, emb_col).mapInPandas(
        fn, f"{id_col} LONG, {qid_col} INT, score DOUBLE"
    )


def dot_score_sql(embedding: Column | str, qvec: Sequence[float]) -> Column:
    """Pure-SQL inner product against a literal query vector via
    ``zip_with`` + ``aggregate`` (stays in whole-stage codegen)."""
    emb = F.col(embedding) if isinstance(embedding, str) else embedding
    qlit = double_array_lit(qvec)  # one parse, not |q| lit() calls
    prods = F.zip_with(
        emb.cast(T.ArrayType(T.DoubleType())), qlit, lambda x, y: x * y
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def cosine_score_col(a: Column | str, b: Column | str) -> Column:
    """Column-to-column cosine similarity (JVM-side): dot(a,b)/(‖a‖·‖b‖)."""
    ca = (F.col(a) if isinstance(a, str) else a).cast(T.ArrayType(T.DoubleType()))
    cb = (F.col(b) if isinstance(b, str) else b).cast(T.ArrayType(T.DoubleType()))
    dot = F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(
        F.aggregate(F.transform(ca, lambda x: x * x), F.lit(0.0), lambda a_, x: a_ + x)
    )
    nb = F.sqrt(
        F.aggregate(F.transform(cb, lambda x: x * x), F.lit(0.0), lambda a_, x: a_ + x)
    )
    return dot / (F.greatest(na * nb, F.lit(1e-12)))


def l2_normalize_col(embedding: Column | str) -> Column:
    """L2 row-normalize an array column: ``v / max(‖v‖, 1e-12)``
    (reference U2: src/dataio/loaders.py:83-86)."""
    emb = (
        F.col(embedding) if isinstance(embedding, str) else embedding
    ).cast(T.ArrayType(T.DoubleType()))
    norm = F.sqrt(
        F.aggregate(F.transform(emb, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    safe = F.greatest(norm, F.lit(1e-12))
    return F.transform(emb, lambda x: x / safe)


def quantize_int8_col(embedding: Column | str) -> Column:
    """Scalar int8 quantization of a unit-norm embedding:
    ``q_i = floor(x_i * 127 + 0.5)`` (half-up, the portable rounding form
    — engines' ROUND() disagree on grid ties, floor arithmetic cannot).
    The 4× storage cut is the point at 100 TB: an int8 corpus keeps IVF
    candidate scoring in cache and defers float32 precision to a rerank.
    """
    emb = (
        F.col(embedding) if isinstance(embedding, str) else embedding
    ).cast(T.ArrayType(T.DoubleType()))
    return F.transform(emb, lambda x: F.floor(x * 127.0 + F.lit(0.5)))


def dequantize_int8_col(quantized: Column | str) -> Column:
    """Inverse of :func:`quantize_int8_col`: ``x̂_i = q_i / 127``."""
    q = F.col(quantized) if isinstance(quantized, str) else quantized
    return F.transform(q, lambda v: v.cast("double") / 127.0)


def quantization_error_cols(embedding: Column | str) -> tuple[Column, Column]:
    """(max_abs_err, mean_abs_err) of int8 round-tripping an embedding —
    the quality gate for shipping a quantized corpus. Element-order
    deterministic (sequential fold over the array) in any engine."""
    emb = (
        F.col(embedding) if isinstance(embedding, str) else embedding
    ).cast(T.ArrayType(T.DoubleType()))
    errs = F.zip_with(
        emb,
        dequantize_int8_col(quantize_int8_col(emb)),
        lambda a, b: F.abs(a - b),
    )
    total = F.aggregate(errs, F.lit(0.0), lambda acc, x: acc + x)
    return F.array_max(errs), total / F.size(errs)


# --------------------------- binary (sign) quantization + Hamming search

#: bits packed per vector — 63, not 64: BIGINT is signed in both engines
#: and (1 << 63) overflows DuckDB's left shift, so the last dimension is
#: left unpacked (the exact rerank restores any loss; both engines pack
#: the identical 63 bits, so candidates match bit-for-bit)
SIGN_PACK_BITS = 63


def sign_pack_column(emb_col: str = "embedding", bits: int = SIGN_PACK_BITS):
    """Pack the sign bits of an ``array<float>`` column into ONE BIGINT —
    binary quantization, the most aggressive vector-compression rung
    below PQ/int8 (64-d float32 = 256 B → 8 B, 32×): bit i is set iff
    ``embedding[i] > 0``. Pure integer codegen (bitwise OR of WHEN
    terms), computed once at ingest; Hamming distance between packed
    codes is then ``bit_count(a XOR b)`` — a two-instruction scan."""
    out = None
    for i in range(bits):
        term = (
            F.when(F.col(emb_col)[i] > 0, F.lit(1 << i))
            .otherwise(F.lit(0))
            .cast("long")
        )
        out = term if out is None else out.bitwiseOR(term)
    return out


def sign_pack_value(qvec: Sequence[float], bits: int = SIGN_PACK_BITS) -> int:
    """Driver-side twin of :func:`sign_pack_column` for a query vector."""
    return sum(
        (1 << i)
        for i in range(min(bits, len(qvec)))
        if float(qvec[i]) > 0.0
    )


def sign_pack_sql(emb_expr: str = "embedding", bits: int = SIGN_PACK_BITS) -> str:
    """ANSI-SQL twin (DuckDB: 1-indexed arrays, ``xor``/``bit_count``
    on BIGINT) — what lets the Hamming-rerank query carry a full
    value-hash oracle."""
    parts = [
        f"(CASE WHEN {emb_expr}[{i + 1}] > 0 THEN (1::BIGINT << {i}) "
        f"ELSE 0::BIGINT END)"
        for i in range(bits)
    ]
    return "(" + " | ".join(parts) + ")"
